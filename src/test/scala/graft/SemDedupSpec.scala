package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.exec.Scope

/** Cluster-scoped semantic dedup (SemDeDup) — assignment argmax/tie
  * semantics, within-cluster pair scoping, the cluster-size cap, and the
  * farthest-from-centroid keep-rule.
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // two orthogonal centroids; vectors cluster by direction
  val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))

  val vecs = Seq(
    (1L, Seq(10f, 0f)),   // cluster 0, csim 1.0
    (2L, Seq(20f, 0f)),   // cluster 0, exact twin of 1 (cosine 1.0)
    (3L, Seq(9.9f, 1f)),  // cluster 0, near-dup of 1/2 (cosine ≈ .9950)
    (4L, Seq(0f, 5f)),    // cluster 1, csim 1.0
    (5L, Seq(1f, 5f))     // cluster 1, near-dup of 4 (cosine ≈ .9806)
  ).toDF("vec_id", "embedding")

  test("assignment picks the argmax-cosine centroid; exact ties go to the lowest cid") {
    val withTie = vecs.union(Seq((6L, Seq(3f, 3f))).toDF("vec_id", "embedding"))
    val got = Dedup.assignSemanticClusters(withTie, "vec_id", "embedding", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1,
      6L -> 0)) // (3,3) has bit-identical cosine to both centroids → cid 0
  }

  test("assignment kernel == the r13 struct-max HOF form (bit-identical, all edges)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorMath
    // the formulation NearestCosineCellBcast replaced: literal struct array,
    // cosineSim per centroid, array_max by (cs, -cid)
    def hofAssign(vec: org.apache.spark.sql.Column) = {
      val cArr = array(cents.map { case (cid, v) =>
        struct(typedLit(v).as("cv"), lit(cid).as("cid")) }: _*)
      array_max(transform(cArr, c => struct(
        VectorMath.cosineSim(vec, c.getField("cv")).as("cs"),
        (lit(0) - c.getField("cid")).as("ncid"))))
    }
    // organic + planted edges: exact tie, zero-norm, null vector, null
    // element, empty vector, dimension mismatch
    val edgy = vecs.union(Seq(
      (6L, Seq(3f, 3f)), (7L, Seq(0f, 0f)), (9L, Seq(1f, 2f, 3f)),
      (10L, Seq.empty[Float])).toDF("vec_id", "embedding"))
      .union(Seq((8L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
      .union(Seq((11L, Seq[java.lang.Float](1f, null))).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")))
    val both = edgy.select(col("vec_id"),
      hofAssign(col("embedding")).as("hof"),
      VectorMath.nearestCosineCellBcastCol(col("embedding"),
        VectorMath.broadcastCosineCells(spark, cents)).as("kernel"))
      .select(col("vec_id"),
        (lit(0) - col("hof.ncid")).as("h_cluster"), col("hof.cs").as("h_cs"),
        col("kernel.cluster").as("k_cluster"), col("kernel.centroid_sim").as("k_cs"))
    val mismatch = both.filter(
      col("h_cluster") =!= col("k_cluster") ||
        (col("h_cs").isNull =!= col("k_cs").isNull) ||
        (col("h_cs").isNotNull && col("h_cs") =!= col("k_cs")))
    assert(mismatch.count() == 0, mismatch.collect().mkString("\n"))
  }

  test("pairs are exact cosine within a cluster only; cross-cluster pairs never emit") {
    val got = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding", cents, threshold = 0.95)
      .select("id_a", "id_b", "cluster").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0), (4L, 5L, 1)))
  }

  test("clusters over maxClusterSize are excluded from the quadratic expansion") {
    val got = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding", cents,
        threshold = 0.95, maxClusterSize = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // cluster 0 (3 members) dropped; cluster 1 (2 members) survives the cap
    assert(got == Set((4L, 5L)))
  }

  test("drop keeps the member farthest from its centroid, ties to the smallest id") {
    val kept = Dedup.semanticDrop(vecs, "vec_id", "embedding", cents, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // component {1,2,3}: csim 1.0/1.0/.9950 → keep 3; component {4,5}: keep 5
    assert(kept == Set(3L, 5L))
    // raise the bar so only the exact twins (cosine 1.0) pair: equal csim → min id
    val keptTie = Dedup.semanticDrop(vecs, "vec_id", "embedding", cents, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(keptTie == Set(1L, 3L, 4L, 5L))
  }

  test("pre-assigned entry point equals the end-to-end operator") {
    val assigned = Dedup.assignSemanticClusters(vecs, "vec_id", "embedding", cents)
    val viaAssigned = Dedup.semanticDedupPairsAssigned(assigned, threshold = 0.95)
      .select("id_a", "id_b", "cluster").as[(Long, Long, Int)].collect().toSet
    val endToEnd = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding", cents, 0.95)
      .select("id_a", "id_b", "cluster").as[(Long, Long, Int)].collect().toSet
    assert(viaAssigned == endToEnd)
  }

  test("pair kernel admits the exact-threshold boundary pair; normed path == plain path") {
    // r17 hoisted-norm kernel: the pair whose cosine EQUALS the threshold
    // must emit (≥ is inclusive): a=(1,0), b=(0,1) at t=0 → cos_sim 0.0.
    val oneCent: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)))
    val boundary = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupPairs(boundary, "vec_id", "embedding",
        oneCent, threshold = 0.0)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.0)))
    // and the end-to-end operator equals the pre-assigned form on the
    // organic fixture at a threshold with near-boundary pairs
    val assigned = Dedup.assignSemanticClusters(vecs, "vec_id", "embedding", cents)
    val plain = Dedup.semanticDedupPairsAssigned(assigned, threshold = 0.98)
      .select("id_a", "id_b", "cluster", "cos_sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    val prefiltered = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding", cents, 0.98)
      .select("id_a", "id_b", "cluster", "cos_sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(plain == prefiltered)
  }

  test("hoisted-norm cosine kernel is bit-identical to the one-pass form, all edges") {
    import graft.functions.VectorMath
    // organic pairs + planted edges: zero-norm side, both zero, empty
    // arrays, length mismatch, null array, null element, float jitter
    val rows = Seq(
      (Seq(10f, 0f), Seq(20f, 0f)),
      (Seq(9.9f, 1f), Seq(10f, 0f)),
      (Seq(0f, 0f), Seq(1f, 2f)),
      (Seq(0f, 0f), Seq(0f, 0f)),
      (Seq.empty[Float], Seq.empty[Float]),
      (Seq(1f, 2f, 3f), Seq(1f, 2f)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(0.30000001f, 0.2f, 0.1f))
    ).toDF("a", "b")
      .union(Seq((null.asInstanceOf[Seq[Float]], Seq(1f, 2f))).toDF("a", "b"))
      .union(Seq((Seq[java.lang.Float](1f, null), Seq[java.lang.Float](2f, 3f)))
        .toDF("a", "b")
        .select(col("a").cast("array<float>"), col("b").cast("array<float>")))
    val both = rows.select(
      VectorMath.cosineSim(col("a"), col("b")).as("one_pass"),
      VectorMath.cosineSimNormed(col("a"), col("b"),
        VectorMath.normSqCol(col("a")), VectorMath.normSqCol(col("b"))).as("normed"))
    val mismatch = both.filter(
      (col("one_pass").isNull =!= col("normed").isNull) ||
        (col("one_pass").isNotNull && col("one_pass") =!= col("normed")))
    assert(mismatch.count() == 0, mismatch.collect().mkString("\n"))
  }

  test("incremental: delta pairs against store and itself; store x store never re-emits") {
    val store = Dedup.assignSemanticClusters(vecs, "vec_id", "embedding", cents)
    val delta = Seq(
      (10L, Seq(40f, 0f)),   // exact-direction twin of 1/2 (cos 1.0)
      (11L, Seq(30f, 0f))    // another → delta-delta pair (10,11) too
    ).toDF("vec_id", "embedding")
    val got = Dedup.incrementalSemanticDedup(delta, store, "vec_id", "embedding",
        cents, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every pair touches the delta; the store's own dup pairs (1,2), (1,3),
    // (2,3), (4,5) are the full tier's business, not the increment's
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 11L), (2L, 11L), (3L, 11L), (10L, 11L)))
  }

  test("incremental drop: store wins cross-batch, delta components keep min id") {
    val store = Dedup.assignSemanticClusters(vecs, "vec_id", "embedding", cents)
    val delta = Seq(
      (10L, Seq(40f, 0f)),   // dup of store 1/2 → dropped (store wins)
      (20L, Seq(0f, 7f)),    // dup of store 4 → dropped
      (30L, Seq(5f, 5.1f)),  // novel direction, twin below
      (31L, Seq(10f, 10.2f)) // in-delta twin of 30 → component keeps 30
    ).toDF("vec_id", "embedding")
    val kept = Dedup.incrementalSemanticDrop(delta, store, "vec_id", "embedding",
        cents, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(30L))
  }

  test("incremental drop: a store-dropped component min must not drop its novel neighbors") {
    val store = Dedup.assignSemanticClusters(
      Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding"), "vec_id", "embedding", cents)
    val delta = Seq(
      (10L, Seq(0.9563f, 0.2924f)), // 17° from store → store dup, dropped
      (11L, Seq(0.8290f, 0.5592f))  // 34° from store (cos ≈ .83 — novel), 17° from 10
    ).toDF("vec_id", "embedding")
    val kept = Dedup.incrementalSemanticDrop(delta, store, "vec_id", "embedding",
        cents, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // sequential first-seen-wins: 10 duplicates the store; 11 duplicates
    // only the DROPPED 10, so dropping it too would lose its content from
    // the corpus entirely — the within-delta component must elect its
    // representative among store-SURVIVORS
    assert(kept == Set(11L))
  }

  test("zero-norm vectors assign deterministically, never pair, never drop") {
    val withZero = vecs.union(Seq((7L, Seq(0f, 0f))).toDF("vec_id", "embedding"))
    val assigned = Dedup.assignSemanticClusters(withZero, "vec_id", "embedding", cents)
      .filter(col("id") === 7L)
      .select("cluster", "centroid_sim").collect().head
    assert(assigned.getInt(0) == 0 && assigned.isNullAt(1))
    val pairs = Dedup.semanticDedupPairs(withZero, "vec_id", "embedding", cents, 0.0)
    assert(!pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .exists { case (a, b) => a == 7L || b == 7L })
    val kept = Dedup.semanticDrop(withZero, "vec_id", "embedding", cents, 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(7L))
  }

  test("semanticDedup pipeline node: spec JSON → compile → trained-centroid drop") {
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("semdedup_node").toString
    vecs.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val spec = PipelineSpec(Seq(
      "emb"   -> SourceSpec("parquet", s"$dir/emb.parquet"),
      "fresh" -> SemanticDedupNodeSpec(RefSpec("emb"), "vec_id", "embedding",
        k = 2, threshold = 0.95)), out = "fresh")
    val compiled = PipelineCompiler.compile(
      SpecJson.fromJson(SpecJson.toJson(spec)), spark) // exercise the JSON round-trip
    // one exemplar per semantic component — which member survives depends
    // on the TRAINED centroids (the farthest-from-mean rule picks v4 here,
    // not the hand-placed-centroid test's v5), so assert the partition
    val kept = compiled.select("vec_id").as[Long].collect().toSet
    assert(kept.size == 2 &&
      kept.intersect(Set(1L, 2L, 3L)).size == 1 &&
      kept.intersect(Set(4L, 5L)).size == 1, s"got $kept")
  }

  test("semanticDedup node modelDir: first compile persists centroids, later compiles load them") {
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("semdedup_model").toString
    vecs.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val spec = PipelineSpec(Seq(
      "emb"   -> SourceSpec("parquet", s"$dir/emb.parquet"),
      "fresh" -> SemanticDedupNodeSpec(RefSpec("emb"), "vec_id", "embedding",
        k = 2, threshold = 0.95, modelDir = s"$dir/model")), out = "fresh")
    val json = SpecJson.toJson(spec)
    // a crashed FIRST persist leaves a dir holding only committer
    // metadata — it must read as ABSENT (train + overwrite), not wedge
    // every later compile on an unreadable asset (r15 review)
    new java.io.File(s"$dir/model/centroids/_temporary/0").mkdirs()
    val first = PipelineCompiler.compile(SpecJson.fromJson(json), spark)
      .select("vec_id").as[Long].collect().toSet
    // the asset exists, holds k centroids plus the knobs it was trained
    // under (the stale-model guard's metadata), and a reload selects
    // identically
    val persisted = spark.read.parquet(s"$dir/model/centroids")
    assert(persisted.count() == 2 &&
      persisted.columns.toSet == Set("cell", "centroid", "k", "mode"))
    // the load path must not retrain or rewrite the asset
    def mtimes = new java.io.File(s"$dir/model/centroids").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    val before = mtimes
    val second = PipelineCompiler.compile(SpecJson.fromJson(json), spark)
      .select("vec_id").as[Long].collect().toSet
    assert(second == first, s"loaded-model run must select identically: $second vs $first")
    assert(mtimes == before, "a loaded-model compile must not rewrite the asset")
  }

  test("semanticDedup node modelDir: a stale asset (k or mode changed) fails loudly, not silently") {
    // ADVICE r15: without the guard, a spec whose k/centroids mode changed
    // after the persist silently loaded the stale centroid asset and
    // diverged from a fresh-trained run with no error
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("semdedup_stale").toString
    vecs.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    def spec(k: Int, mode: String) = PipelineSpec(Seq(
      "emb"   -> SourceSpec("parquet", s"$dir/emb.parquet"),
      "fresh" -> SemanticDedupNodeSpec(RefSpec("emb"), "vec_id", "embedding",
        k = k, threshold = 0.95, centroids = mode, modelDir = s"$dir/model")),
      out = "fresh")
    PipelineCompiler.compile(spec(2, "kmeans"), spark).count()
    val eK = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(spec(3, "kmeans"), spark) }
    assert(eK.getMessage.contains("delete the asset to retrain"), eK.getMessage)
    val eMode = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(spec(2, "firstK"), spark) }
    assert(eMode.getMessage.contains("k=2/kmeans"), eMode.getMessage)
    // a zero-row asset reads as ABSENT: retrain + overwrite, like the
    // committed-files partial-write policy
    vecs.limit(0).select(lit(0).as("cell"),
        col("embedding").as("centroid"), lit(2).as("k"), lit("kmeans").as("mode"))
      .write.mode("overwrite").parquet(s"$dir/model/centroids")
    val retrained = PipelineCompiler.compile(spec(2, "kmeans"), spark)
      .select("vec_id").as[Long].collect().toSet
    assert(retrained.size == 2, s"empty asset must retrain, got $retrained")
    assert(spark.read.parquet(s"$dir/model/centroids").count() == 2,
      "the retrain must overwrite the empty asset")
  }

  test("trained-centroid path: planted-pair recall floors on the ORGANIC fixture; model is seed-deterministic") {
    // the production path — trainSemanticCentroids → assignSemanticClusters
    // → semanticDedupPairsAssigned — pinned on organic embeddings the way
    // DedupSpec pins the ANN recall floors: ×2-scaled exact twins (cosine
    // 1.0 — MUST all pair: identical directions get bit-identical cosines
    // to every centroid, hence the same argmax cell) and 3v+v_next blends
    // (cosine ≈ 0.94–0.97 — may straddle cell boundaries; floor from the
    // measured value minus a margin). Floors measured on sf0.001 with
    // k=4: twins 1.0, blends 1.0 (16/16); the blend floor is 0.75 so a
    // legitimate k-means library change can move individual boundary
    // assignments without flaking, while a scoping regression still fails.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val twins = emb.filter(col("vec_id") < 16)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val nxt = emb.select((col("vec_id") - 1L).as("vec_id"), col("embedding").as("__nx"))
    val blends = emb.join(nxt, "vec_id").filter(col("vec_id") < 16)
      .select((col("vec_id") + 200000L).as("vec_id"),
        zip_with(col("embedding"), col("__nx"),
          (x, y) => (x.cast("double") * 3 + y.cast("double")).cast("float")).as("embedding"))
    val corpus = emb.unionByName(twins).unionByName(blends)
    val c1 = Dedup.trainSemanticCentroids(corpus, "vec_id", "embedding", k = 4)
    val c2 = Dedup.trainSemanticCentroids(corpus, "vec_id", "embedding", k = 4)
    assert(c1 == c2, "k-means centroids must replay identically under the pinned seed")
    val assigned = Dedup.assignSemanticClusters(corpus, "vec_id", "embedding", c1)
    val pairs = Dedup.semanticDedupPairsAssigned(assigned, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val twinRecall = (0 until 16).count(i =>
      pairs.contains((i.toLong, i + 100000L))).toDouble / 16
    assert(twinRecall == 1.0, s"exact-twin recall must be 1.0, got $twinRecall")
    val blendRecall = (0 until 16).count(i =>
      pairs.contains((i.toLong, i + 200000L))).toDouble / 16
    assert(blendRecall >= 0.75, s"near-dup recall regressed: $blendRecall (measured 1.0)")
    // precision: no organic-organic pair clears 0.9 on this fixture
    assert(!pairs.exists { case (a, b) => a < 100000L && b < 100000L },
      s"false organic pairs: ${pairs.filter { case (a, b) => a < 100000L && b < 100000L }}")
  }

  test("kmeans-trained centroids separate the fixture's direction clusters") {
    val trained = Dedup.trainSemanticCentroids(vecs, "vec_id", "embedding", k = 2)
    assert(trained.map(_._1) == Seq(0, 1))
    val got = Dedup.assignSemanticClusters(vecs, "vec_id", "embedding", trained)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    // same partition of the ids as the hand-placed centroids (labels may swap)
    assert(Set(Set(1L, 2L, 3L), Set(4L, 5L)) ==
      got.groupBy(_._2).values.map(_.keySet).toSet)
  }

  /** Messages the dedup operators log at WARN while `body` runs (the shared
    * session logs at ERROR, so the level is lowered for the call only).
    */
  private def dedupWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    import scala.jdk.CollectionConverters._
    val name = "graft.operators.Dedup"
    val logger = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getLogger(name)
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[String])
    val app = new AbstractAppender("dedup-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val level = logger.getLevel
    Configurator.setLevel(name, org.apache.logging.log4j.Level.WARN)
    logger.addAppender(app)
    val out = try body finally {
      logger.removeAppender(app)
      Configurator.setLevel(name, level)
      app.stop()
    }
    (out, seen.asScala.toSeq)
  }

  // three direction cells; the store holds both a lower and a higher id
  // than the delta vector that duplicates it, and cell 2 (4 store + 2 delta
  // vectors) is over a maxClusterSize of 5
  private val cents3: Seq[(Int, Seq[Float])] =
    Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)), (2, Seq(-1f, 0f)))
  private def capStore = Dedup.assignSemanticClusters(Seq(
      (1L, Seq(10f, 0f)), (4L, Seq(0f, 5f)), (100L, Seq(0f, 9f)),
      (7L, Seq(-5f, 0f)), (8L, Seq(-6f, 0.1f)), (9L, Seq(-7f, -0.1f)), (15L, Seq(-8f, 0.2f)))
    .toDF("vec_id", "embedding"), "vec_id", "embedding", cents3)
  private def capDelta = Seq(
    (10L, Seq(40f, 0f)),    // twin of store 1 (store id lower)
    (5L, Seq(0.1f, 9f)),    // dup of store 4 (lower id) AND store 100 (higher id)
    (30L, Seq(5f, 5.1f)),   // novel direction ...
    (31L, Seq(10f, 10.2f)), // ... and its in-delta twin
    (40L, Seq(-7f, 0f)),    // cell 2: over the cap, never paired
    (41L, Seq(-7f, 0.05f))).toDF("vec_id", "embedding")

  test("incremental pairs: delta-delta, delta-store both id orders, over-cap cell warned once") {
    val (rows, warned) = dedupWarnings(Scope.withCacheScope {
      Dedup.incrementalSemanticDedupAssigned(
          Dedup.assignSemanticClusters(capDelta, "vec_id", "embedding", cents3),
          capStore, threshold = 0.95, maxClusterSize = 5)
        .select(col("id_a"), col("id_b"), col("cluster"), round(col("cos_sim"), 4))
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    })
    assert(rows == Seq((1L, 10L, 0, 1.0), (4L, 5L, 1, 0.9999), (5L, 100L, 1, 0.9999),
      (30L, 31L, 1, 1.0)), s"got $rows")
    assert(warned.count(_.contains("exceed maxClusterSize=5")) == 1, s"got $warned")
    assert(warned.exists(_.contains("1 cluster(s) covering 6 vectors")), s"got $warned")
  }

  test("incremental drop: store wins in both id orders, delta twin keeps min, over-cap cell kept") {
    val (kept, warned) = dedupWarnings(Scope.withCacheScope {
      Dedup.incrementalSemanticDrop(capDelta, capStore, "vec_id", "embedding",
          cents3, threshold = 0.95, maxClusterSize = 5)
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    })
    assert(kept == Seq((30L, Seq(5f, 5.1f)), (40L, Seq(-7f, 0f)), (41L, Seq(-7f, 0.05f))),
      s"got $kept")
    assert(warned.count(_.contains("exceed maxClusterSize=5")) == 1, s"got $warned")
  }
}
