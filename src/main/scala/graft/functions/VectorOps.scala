package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, expressed as Catalyst
  * higher-order functions (`transform`/`zip_with`/`aggregate`) so everything
  * stays codegen'd and columnar — no UDF serialization per row.
  *
  * Arithmetic is done in DOUBLE with strict left-to-right accumulation so the
  * DuckDB oracle (`list_sum(list_transform(...))`) reproduces results exactly.
  */
object VectorOps {

  private def d(c: Column): Column = transform(c, x => x.cast("double"))

  /** The well-formed-embedding policy every vector tier shares (ad-hoc IVF,
    * the persisted index, LSH): null and EMPTY embeddings can't be indexed
    * or routed — they'd NPE in `array_to_vector` or break k-means on mixed
    * dimensions — and are dropped; zero-NORM vectors are dimensionally fine
    * and stay (surfacing with null cos_sim). One definition so the tiers
    * can't drift (EdgeCaseSpec pins the behavior).
    */
  private[graft] def wellFormedVectors(df: DataFrame, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Pairwise cosine via the native one-pass kernel ([[CosineSim]]): same
    * double arithmetic and null convention as `dot(a, b) / (l2Norm(a) *
    * l2Norm(b))` (the HOF reference form SqlFunctionsSpec cross-checks
    * it against), but codegen'd —
    * the ANN/near-dup operators evaluate this per candidate pair, where the
    * interpreted `aggregate(zip_with(...))` pipeline (3 array passes + a
    * zipped allocation per pair) dominated the whole query.
    */
  def cosine(a: Column, b: Column): Column = VectorMath.cosineSim(a, b)

  /** Pre-normalize embeddings once (`vec / ||vec||`) so that cosine becomes a
    * plain dot product — at 100 TB you normalize at ingest, not per-pair.
    *
    * Zero-norm vectors (a failed embedding upstream — guaranteed to exist
    * somewhere in a 100 TB corpus) normalize to NULL rather than throwing
    * ANSI DIVIDE_BY_ZERO and killing the ingest job; null matches the
    * native [[cosine]] kernel's convention for the same input, so
    * `dot(normalized(a), normalized(b))` and `cosine(a, b)` stay
    * null-equivalent row-for-row.
    *
    * Runs the native one-pass kernel ([[NormalizeVector]]): the same IEEE
    * ops, accumulation order and null conventions (zero norm → null; null
    * element → all-null array) as the `x / l2Norm` HOF form SqlFunctionsSpec
    * cross-checks it against, but codegen'd. The HOF form's four
    * interpreted passes per row made `buildIvfIndex(normalize = true)`
    * scan-bound on normalization itself (301 s vs 21 s at 1M vectors,
    * SCALING.md r14).
    */
  def normalized(a: Column): Column = VectorMath.normalizeVector(a)

  /** Per-query top-k over a `(query_id, neighbor_id, cos_sim)` scored
    * relation — shared by every ANN tier. Runs as the bounded
    * [[TopKPairs]] aggregate, NOT the window idiom it replaced: a window's
    * single exchange carries every scored candidate to its query's
    * partition (candidate-count-proportional shuffle — the term that
    * explodes when the query side stops being small), while hash
    * aggregation's PARTIAL pass caps the exchange at one ≤k-entry buffer
    * per (query, map partition). Ordering — `(cos_sim desc nulls-last,
    * neighbor_id asc)` — matches the window form bit-for-bit, so the
    * `row_number()` replay oracles are unaffected.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val top = Bridge.column(TopKPairs(
      Bridge.expression(col("cos_sim")),
      Bridge.expression(col("neighbor_id")), k).toAggregateExpression())
    scored.groupBy("query_id").agg(top.as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"),
        col("__e.score").as("cos_sim"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k most similar
    * rows of `corpus` (self-matches excluded).
    *
    * Scale path: `queries` is broadcast (it is the small side by
    * construction), so the corpus is scanned exactly once with no shuffle —
    * the only wide operation is the per-query top-k, which AQE handles as an
    * aggregation over `numQueries × corpusPartitions` partial heaps.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest centroids and scores only vectors in those cells.
    * The classic trade: one small trained model broadcast everywhere, and
    * the candidate join is an equi-join on cell id — at 100 TB the corpus
    * is scanned once to assign cells (or cells are precomputed at ingest)
    * and each query touches nprobe/nlist of the data.
    *
    * Training runs on (a sample of) the corpus; seed fixed for
    * reproducibility.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSampleCap: Long = 1000000L): DataFrame = {
    val (assigned, probed) = ivfAssign(queries, corpus, nlist, nprobe,
      idCol, vecCol, trainSampleCap)
    val scored = assigned.join(probed, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }

  /** IVF over an int8-quantized cell index — the at-scale configuration:
    * cell routing as in [[ivfTopK]] (float k-means centroids, tiny and
    * broadcast), but the corpus rides the cell join as int8 codes with
    * precomputed self-norms (4× smaller index than float32 — the memory
    * term that decides whether a 100 TB-corpus index fits executor RAM),
    * and per-pair scoring is the single integer cross-dot of
    * [[bruteForceTopKInt8]]. Ranking differs from float IVF only by the
    * ≤0.4%/component quantization error.
    */
  def ivfTopKInt8(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSampleCap: Long = 1000000L): DataFrame = {
    val (assigned, probed) = ivfAssign(queries, corpus, nlist, nprobe,
      idCol, vecCol, trainSampleCap)
    val a = assigned.select(col("neighbor_id"), col("cell"),
        quantizeInt8(col("c_vec")).as("__z"))
      .select(col("neighbor_id"), col("cell"),
        col("__z.q").as("c_q"), col("__z.norm2").as("c_n2"))
    val p = probed.select(col("query_id"), col("cell"),
        quantizeInt8(col("q_vec")).as("__z"))
      .select(col("query_id"), col("cell"),
        col("__z.q").as("q_q"), col("__z.norm2").as("q_n2"))
    val scored = a.join(p, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosineInt8OfNorms(
        dotInt8(col("q_q"), col("c_q")), col("q_n2"), col("c_n2")), 6))
    rankTopK(scored, k)
  }

  /** Shared IVF coarse quantizer: trains k-means on a capped deterministic
    * sample, assigns each corpus vector its cell, and routes each query to
    * its `nprobe` nearest cells against the broadcast centroids. Returns
    * `(assigned(neighbor_id, c_vec, cell), probed(query_id, q_vec, cell))`.
    */
  private def ivfAssign(
      queries: DataFrame, corpus: DataFrame,
      nlist: Int, nprobe: Int, idCol: String, vecCol: String,
      trainSampleCap: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // null/empty embeddings (failed upstream encode) can't be indexed: they
    // would NPE inside array_to_vector / break k-means on mixed dimensions.
    // Drop them from BOTH sides — same "flows through without pairing"
    // policy as the LSH and brute tiers (EdgeCaseSpec).
    val toVec = wellFormedVectors(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("features"))
    // Coarse-quantizer training only needs a representative sample: cap it
    // with the deterministic md5 Bernoulli filter (engine-portable, seedless)
    // so a 100 TB corpus trains k-means on ~trainSampleCap vectors instead
    // of iterating the full relation 10×. Below the cap the filter is a
    // no-op and results are bit-identical to training on everything.
    val n = toVec.count()
    val q0 = wellFormedVectors(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // an empty (or all-degenerate) corpus has nothing to index — return the
    // empty frames with the contract schema instead of crashing k-means fit
    if (n == 0) return (
      toVec.select(col("neighbor_id"), col("c_vec"), lit(0).as("cell")).limit(0),
      q0.withColumn("cell", lit(0)).limit(0))
    val trainSet =
      if (n <= trainSampleCap) toVec
      else graft.operators.Sampling.hashSample(toVec, "neighbor_id",
        trainSampleCap.toDouble / n)
    // k must not exceed the (well-formed) corpus size or fit() refuses
    val k = math.min(nlist.toLong, n).toInt
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(10).fit(trainSet)
    val cells = model.clusterCenters.zipWithIndex // driver-side: nlist × dim doubles
    // corpus side: one cell per vector (the model's transform)
    val assigned = model.transform(toVec).withColumnRenamed("prediction", "cell")
      .select("neighbor_id", "c_vec", "cell")
    // query side: nprobe nearest cells in ONE kernel evaluation per query
    // (functions/VectorMathExpr NearestCellsBcast — same (sqdist, cell)-ascending
    // arithmetic as the crossJoin+window form it replaces, without the
    // centroid crossJoin or the window exchange). The plan holds the
    // broadcast handle, so it lives exactly as long as any derived
    // DataFrame (ContextCleaner reclaims it after).
    val bc = VectorMath.broadcastCells(queries.sparkSession,
      cells.map { case (c, i) => (i, c.toArray.toSeq) }.toSeq)
    val probed = q0
      .withColumn("cell", explode(VectorMath.nearestCellsBcastCol(
        col("q_vec"), bc, math.min(nprobe, k))))
      .select("query_id", "q_vec", "cell")
    (assigned, probed)
  }

  // --- int8 quantization (the ANN memory-scale path) ------------------------

  /** Symmetric per-vector int8 quantization: `scale = max|v|/127`,
    * `q_i = clamp(floor(v_i/scale + 0.5), -127, 127)` — floor(x+0.5), not
    * half-even `round`, so every engine computes identical codes. Returns
    * `struct(scale double, q array<int>, norm2 long)` where `norm2` is the
    * precomputed self dot product of the codes (see [[bruteForceTopKInt8]]:
    * per-pair cosine then needs only the cross dot). Codes are 4× smaller
    * than float32 — at 100 TB that is the difference between an ANN index
    * that fits executor memory and one that spills — and cosine is
    * scale-invariant, so ranking quality degrades only by the ≤0.4%
    * per-component rounding error.
    *
    * Implementation note: HOFs evaluate their lambda body per element and
    * Catalyst does not hoist the O(d) `scale` subtree out of the per-element
    * lambda, which would make quantization O(d²) per vector. Binding scale
    * (and then the code array) through single-element `transform`s is the
    * expression-level let: each is evaluated exactly once per row.
    */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, v => abs(v.cast("double"))))
    val scaleE = when(mx === 0.0, lit(1.0)).otherwise(mx / 127.0)
    element_at(transform(array(scaleE), s =>
      element_at(transform(array(
        transform(vec, v => greatest(lit(-127L), least(lit(127L),
          floor(v.cast("double") / s + 0.5))).cast("int"))), q =>
        struct(s.as("scale"), q.as("q"), dotInt8(q, q).as("norm2"))), 1)), 1)
  }

  /** Exact integer dot product of two int8 code arrays, via the native
    * one-pass kernel ([[DotProductInt8]]): same integer arithmetic and
    * null convention as the `aggregate(zip_with(...))` HOF form
    * SqlFunctionsSpec cross-checks it against, but codegen'd — the int8 ANN
    * tiers evaluate this per candidate PAIR, where the interpreted
    * zip_with pipeline (a zipped allocation + two lambdas per element)
    * cost more than the float path it was supposed to undercut.
    */
  def dotInt8(qa: Column, qb: Column): Column = VectorMath.dotProductInt8(qa, qb)

  /** Int8 cosine from a precomputed cross dot and the two precomputed
    * self-norms: NULL when either norm is zero — the native float
    * [[cosine]] kernel's convention, and under ANSI mode the difference
    * between "zero-norm vectors surface with null cos_sim" (the documented
    * vector-tier policy, EdgeCaseSpec) and a DIVIDE_BY_ZERO killing the
    * whole query job. Every int8 scoring site goes through this.
    */
  private[graft] def cosineInt8OfNorms(dotC: Column, qN2: Column, cN2: Column): Column =
    when(qN2 === 0L || cN2 === 0L, lit(null).cast("double"))
      .otherwise(dotC.cast("double") / sqrt(qN2.cast("double") * cN2.cast("double")))

  /** Cosine over int8 codes: the three dot products are exact integer sums,
    * and the final divide/sqrt are single correctly-rounded IEEE ops — so
    * unlike float cosine (which needs matched summation order), the
    * quantized score is bit-identical on any engine. Null on a zero-norm
    * side, like the float kernel.
    */
  def cosineInt8(qa: Column, qb: Column): Column =
    cosineInt8OfNorms(dotInt8(qa, qb), dotInt8(qa, qa), dotInt8(qb, qb))

  /** Brute-force top-k over int8-quantized vectors: same plan shape as
    * [[bruteForceTopK]] (broadcast queries, one corpus scan), but the
    * corpus rides through the join as int8 codes — 4× less broadcast and
    * scan width, integer kernels in the hot loop. Self-norms come
    * precomputed from the quantization struct, so the per-pair work is the
    * single cross dot product — not the three-dot [[cosineInt8]] form,
    * which would redo each side's O(d) self-norm once per PAIR.
    */
  def bruteForceTopKInt8(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantizeInt8(col(vecCol)).as("__z"))
      .select(col("query_id"), col("__z.q").as("q_q"), col("__z.norm2").as("q_n2"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantizeInt8(col(vecCol)).as("__z"))
      .select(col("neighbor_id"), col("__z.q").as("c_q"), col("__z.norm2").as("c_n2"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(cosineInt8OfNorms(
        dotInt8(col("q_q"), col("c_q")), col("q_n2"), col("c_n2")), 6))
      .drop("q_n2", "c_n2")
    rankTopK(scored, k)
  }

  /** Deterministic random hyperplanes for sign-LSH, seeded so plans are
    * reproducible across runs/executors.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: `bits` random hyperplanes → one int bucket key.
    * Built from literal arrays + `zip_with`, so the signature is computed
    * by codegen'd expressions, and the subsequent candidate join is a plain
    * shuffle-on-bucket equi-join — the 100 TB-safe ANN layout (IVF-style:
    * compare only within buckets).
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit(_)): _*)
      val proj = aggregate(zip_with(d(vec), planeCol, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k. Multi-probe via several independent
    * bucket functions (bands); a candidate pair is scored iff the two vectors
    * share at least one band bucket. Recall/cost tradeoff = bands × bits.
    * Bucket keys come from the native [[SignLshBuckets]] kernel — one
    * expression per row instead of bands×bits interpreted lambda pipelines.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bands: Int = 4, bits: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), col(vec),
        posexplode(SignLshBuckets.signLsh(col(vec), dim, bands, bits)).as(Seq("band", "bucket")))
    val q = withBuckets(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")), "query_id", "q_vec")
    val c = withBuckets(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")), "neighbor_id", "c_vec")
    val candidates = c.join(q, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "q_vec", "neighbor_id", "c_vec")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates.withColumn("cos_sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }
}
