package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.exec.Scope
import graft.store.Stores
import graft.functions.{TextOps, VectorOps}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),      // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "about spark engines completely different content") // permutation of 4 (same bag-of-words)
  ).toDF("doc_id", "text")

  test("exact dedup keeps first by order col and counts dups") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val kept = out.select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(kept(1L) == 2L)      // doc 2 folded into doc 1
    assert(!kept.contains(2L))
    assert(kept.contains(3L))   // near-dup is NOT an exact dup
    // 4 and 5 share the same bag of words → same fingerprint
    assert(kept(4L) == 2L && !kept.contains(5L))
  }

  test("minhash LSH finds the near-duplicate pair and estimates jaccard") {
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, _) => a == 1L && b == 2L }) // exact pair
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 3L && j > 0.5 })
    // unrelated docs don't pair with the fox docs
    assert(!pairs.exists { case (a, b, _) => a <= 3L && b >= 4L })
  }

  test("minhash canonicalization: exact-dup groups expand to the full pair set") {
    // two identical-text GROUPS (one the near-dup of the other), a unique
    // doc, and a sub-shingle-length identical pair — locks the rep/member
    // expansion: within-group pairs via the array-free intra path, cross
    // pairs via the member-map joins, all with id_a < id_b and no dups
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val cc = Seq(
      (1L, base), (2L, base), (3L, base),                   // identical x3
      (4L, base + " tail marker"), (5L, base + " tail marker"), // identical x2, near group 1
      (6L, "entirely different content about engines and planners"),
      (7L, "tiny"), (8L, "tiny")                            // identical, below shingle length
    ).toDF("doc_id", "text")
    val got = Dedup.minhashDedupPairs(cc, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keys.forall { case (a, b) => a < b }, s"unnormalized ids: ${got.keys}")
    // within-group: all C(3,2) + C(2,2) + the sub-shingle pair, at exactly 1.0
    for (p <- Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (7L, 8L)))
      assert(got.get(p).contains(1.0), s"missing/wrong intra pair $p -> ${got.get(p)}")
    // cross: every member of group A pairs with every member of group B,
    // all SIX carrying the identical rep-level jaccard
    val cross = for (a <- Seq(1L, 2L, 3L); b <- Seq(4L, 5L)) yield (a, b)
    val js = cross.map(p => got.getOrElse(p, fail(s"missing cross pair $p")))
    assert(js.distinct.size == 1 && js.head > 0.5 && js.head < 1.0, s"cross jaccards: $js")
    // nothing pairs with the unique doc; total is exactly the expected set
    assert(got.size == 5 + 6, s"unexpected extras: ${got.keys.toSeq.sorted}")
  }

  test("minhash cross-group expansion is bounded by maxBucketSize") {
    // group A: 6 identical docs — OVERSIZE under maxBucketSize=4; group B: 2
    // identical near-dups of A's content; one unrelated doc. The verified
    // rep pair A-B must NOT expand through the oversize group (the |A|×|B|
    // blowup the cap exists to prevent), and A's within-group pairs are
    // excluded too — mirroring the banding tier's oversized-bucket drop —
    // while the in-cap group B still expands normally.
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val rows = (1L to 6L).map(i => (i, boiler)) ++ Seq(
      (10L, boiler + " tail marker"), (11L, boiler + " tail marker"),
      (20L, "entirely different content about engines and planners"))
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.minhashDedupPairs(df, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!got.exists { case (a, b) => a <= 6 || b <= 6 },
      s"oversize exact-dup group leaked into pair expansion: $got")
    assert(got == Set((10L, 11L)), s"in-cap group mis-expanded: $got")
    // same corpus with the cap lifted: full expansion returns (sanity that
    // the cap — not a recall bug — excluded the pairs above)
    val full = Dedup.minhashDedupPairs(df, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full.size == 15 + 1 + 12, s"uncapped expansion wrong: ${full.size}") // C(6,2) + C(2,2) + 6×2
  }

  test("minhash short-circuit: zero exact-dup corpora still pair near-dups") {
    // no two docs share a fingerprint -> the member map is the identity and
    // the expansion stages are skipped; the verified rep pairs ARE the answer
    val uniq = docs.filter(col("doc_id") =!= 2 && col("doc_id") =!= 5)
    val pairs = Dedup.minhashDedupPairs(uniq, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1 && pairs.head._1 == 1L && pairs.head._2 == 3L
      && pairs.head._3 > 0.5, s"got ${pairs.toSeq}")
  }

  test("minhash estimate tracks exact jaccard") {
    // the estimator scores delta–store pairs: doc 1 is stored, doc 3 arrives
    val cands = Dedup.minhashPairs(docs.filter(col("doc_id") === 3),
        Dedup.minhashSignatures(docs.filter(col("doc_id") === 1), "doc_id", "text"),
        "doc_id", "text", threshold = 0.0)._1
      .filter(col("id_a") === 1 && col("id_b") === 3).head()
    val est = cands.getAs[Double]("jaccard")
    val exact = docs.filter(col("doc_id").isin(1, 3))
      .agg(collect_list(TextOps.charShingles(col("text"), 5)).as("s"))
      .select(Dedup.ngramJaccard(element_at(col("s"), 1), element_at(col("s"), 2)))
      .head().getDouble(0)
    assert(math.abs(est - exact) < 0.2, s"est=$est exact=$exact")
  }

  test("simhash: identical docs have identical signatures, near dups are close") {
    val sig = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) <= 16)
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(4L)) > 16)
  }

  test("simhashPairs returns hamming-bounded pairs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    // bag-of-words equal docs 4/5 also have identical token sets → distance 0
    assert(pairs.contains((4L, 5L)))
  }

  test("embedding cosine dedup finds planted near-identical vectors") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val nearDup = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val other = Array.fill(16)(rnd.nextGaussian().toFloat)
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(df, "vec_id", "embedding", dim = 16,
      threshold = 0.99, bands = 4, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("IVF ANN recalls >=0.9 of the brute-force top-k (tuned nlist/nprobe)") {
    // nlist=8/nprobe=4 measured 0.93 on this fixture (graft.tools.RecallProbe);
    // the old nlist=16/nprobe=3 sat at ~0.6 — cells too fine for 500 vectors.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(VectorOps.bruteForceTopK(queries, emb, k = 5))
    val ivf = pairs(VectorOps.ivfTopK(queries, emb, k = 5, nlist = 8, nprobe = 4))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
    // capped coarse-quantizer training (the 100 TB path: k-means on a
    // deterministic hash sample, not the full corpus) still answers every
    // query with k results and holds useful recall on the fixture
    val capped = VectorOps.ivfTopK(queries, emb, k = 5, nlist = 8, nprobe = 4,
      trainSampleCap = 100L)
    assert(capped.count() == 50)
    val cappedRecall = (exact intersect pairs(capped)).size.toDouble / exact.size
    assert(cappedRecall >= 0.7, s"capped-training IVF recall too low: $cappedRecall")
  }

  test("ANN recall floors pinned on organic fixtures (ivf / ivf-int8 / lsh)") {
    // Floors are measured values minus a safety margin, from
    // `runMain graft.tools.RecallProbe` on sf0.001 (round 11: ivf(8,4)=0.93,
    // ivf_int8(8,4)=0.92, lsh(bands=8,bits=6)=0.33 — everything hash-seeded,
    // so the measurements are deterministic). The LSH floor is low by
    // DESIGN: sign-LSH is the high-similarity retrieval tier and this
    // fixture's top-5 lives in weak-cosine territory (the planted-twin test
    // above covers its actual regime); the floor still pins the config
    // against silent recall regressions.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(VectorOps.bruteForceTopK(queries, emb, k = 5))
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      (exact intersect pairs(df)).size.toDouble / exact.size
    val ivf = recallOf(VectorOps.ivfTopK(queries, emb, k = 5, nlist = 8, nprobe = 4))
    assert(ivf >= 0.90, s"ivfTopK(nlist=8,nprobe=4) recall regressed: $ivf (measured 0.93)")
    val ivf8 = recallOf(VectorOps.ivfTopKInt8(queries, emb, k = 5, nlist = 8, nprobe = 4))
    assert(ivf8 >= 0.85, s"ivfTopKInt8(nlist=8,nprobe=4) recall regressed: $ivf8 (measured 0.92)")
    val lsh = recallOf(VectorOps.lshTopK(queries, emb, k = 5, dim = 64, bands = 8, bits = 6))
    assert(lsh >= 0.30, s"lshTopK(bands=8,bits=6) recall regressed: $lsh (measured 0.33)")
  }

  // --- brute-force cross-checks for the rows-only gate queries -------------
  // (q_n_dedup_minhash / q_n_dedup_simhash / q_n_emb_dups / q_n_ann_lsh have
  // no SQL oracle — hash families aren't SQL-expressible — so each gets a
  // containment/recall assertion against an exact computation here.)

  test("minhash gate cross-check: no false positives, recall >=0.95 vs exact jaccard") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 300)
    val lsh = Dedup.minhashDedupPairs(corpus, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact all-pairs jaccard over the same hashed 5-shingle sets
    val sh = corpus.select(col("doc_id").as("id"),
      graft.functions.ShingleHashes.shingleHashes(col("text"), 5).as("sh"))
    val exact = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), col("id_a") < col("id_b"))
      .withColumn("j", Dedup.ngramJaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture has no >=0.7 pairs; cross-check is vacuous")
    assert(lsh.subsetOf(exact), s"false positives: ${(lsh -- exact).take(5)}")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"minhash recall too low: $recall (exact=${exact.size})")
  }

  test("simhash gate cross-check: pigeonhole finds EXACTLY the hamming<=3 pairs") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val sig = Dedup.simhash64(corpus, "doc_id", "text")
    val brute = sig.select(col("id").as("id_a"), col("simhash").as("ha"))
      .join(sig.select(col("id").as("id_b"), col("simhash").as("hb")), col("id_a") < col("id_b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(lsh == brute,
      s"missed=${(brute -- lsh).take(5)} spurious=${(lsh -- brute).take(5)}")
  }

  test("portable simhash: pigeonhole equals brute force AND sigs match the md5 formula") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val sig = Dedup.simhashPortableSigs(corpus, "doc_id", "text")
    // signature parity with the from-first-principles SQL formulation the
    // DuckDB oracle uses: 60-bit md5 token hash, ±1 votes per bit
    val sqlSig = corpus.select(col("doc_id").as("id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("id"), conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .select(col("id"), explode(sequence(lit(0), lit(59))).as("b"), col("h"))
      .groupBy("id", "b")
      .agg(sum(when(expr("(h >> b) & 1") === 1L, 1).otherwise(-1)).as("v"))
      .groupBy("id")
      .agg(sum(when(col("v") > 0, expr("cast(1 as bigint) << b")).otherwise(0L)).as("simhash"))
    val a = sig.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = sqlSig.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b), "portable sigs diverge from the md5/votes formula")
    // uncapped pigeonhole pairs == brute-force hamming<=3 pairs (the exact
    // equality the q_n_dedup_simhash driver gate relies on)
    val s2 = sig.withColumnRenamed("id", "id_b").withColumnRenamed("simhash", "hb")
    val brute = sig.join(s2, col("id") < col("id_b"))
      .filter(bit_count(col("simhash").bitwiseXOR(col("hb"))) <= 3)
      .select(col("id").as("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val lsh = Dedup.simhashPairsPortable(corpus, "doc_id", "text",
        maxHamming = 3, maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute,
      s"missed=${(brute -- lsh).take(5)} spurious=${(lsh -- brute).take(5)}")
  }

  test("embedding-dup gate cross-check: containment + planted near-dups recalled") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 250)
    // plant high-cosine near-dups (the regime sign-LSH is built for; this
    // fixture's natural >=0.2 pairs are weak-similarity noise that banded
    // sign-LSH intentionally subsamples)
    val rnd = new scala.util.Random(5)
    val planted = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0f + rnd.nextFloat() * 1e-4f)).as("embedding"))
    val corpus = emb.unionByName(planted)
    val lsh = Dedup.embeddingDupPairs(corpus, "vec_id", "embedding", dim = 64,
      threshold = 0.2, bands = 8, bits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // containment: every emitted pair clears the exact-cosine threshold
    val exact = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
        col("id_a") < col("id_b"))
      .withColumn("c", round(VectorOps.cosine(col("va"), col("vb")), 4))
      .filter(col("c") >= 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${(lsh -- exact).take(5)}")
    // recall: every planted (cos≈1) pair must surface
    val plantedPairs = (0L until 10L).map(i => (i, i + 10000L)).toSet
    val found = plantedPairs intersect lsh
    assert(found.size >= 9, s"planted near-dups missed: ${plantedPairs -- lsh}")
  }

  test("LSH ANN gate cross-check: planted nearest neighbors are retrieved") {
    // Sign-LSH top-k is the HIGH-similarity retrieval tier (near-dup search);
    // for this fixture's weak-cosine top-5 it trades recall for candidate
    // volume by design, so the honest CI check is planted-neighbor recall
    // (~1.0 measured), not generic recall@5 (IVF is the generic tier).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 250)
    val planted = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
    val corpus = emb.unionByName(planted)
    val got = VectorOps.lshTopK(corpus.filter(col("vec_id") < 10), corpus,
        k = 5, dim = 64, bands = 8, bits = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val hits = (0L until 10L).count(q => got.getOrElse(q, Set.empty).contains(q + 10000L))
    assert(hits >= 9, s"planted neighbor retrieved for only $hits/10 queries")
  }

  test("decontaminate drops exactly the train docs sharing benchmark n-grams") {
    val bench = Seq((100L, "the capital of france is paris obviously")).toDF("id", "text")
    val train = Seq(
      (1L, "everyone knows the capital of france is paris"), // leaks a 3-gram
      (2L, "unrelated text about cooking pasta al dente"),
      (3L, "paris is lovely in spring"),                     // shares words, no 3-gram
      (4L, "of france is where wine comes from")             // leaks "of france is"
    ).toDF("id", "text")
    val hits = graft.operators.Dedup.contaminationHits(train, bench, "id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(hits.keySet == Set(1L, 4L), s"flagged: $hits")
    assert(hits(1L) == 4, "doc 1 shares 4 distinct 3-grams") // capital-of-france … is-paris-obviously? no: 4 windows inside the shared 5-token span
    val kept = graft.operators.Dedup.decontaminate(train, bench, "id", "text", n = 3)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // hashKeys variant flags the same documents (8-byte shuffle keys at scale)
    val hashed = graft.operators.Dedup.contaminationHits(train, bench, "id", "text",
      n = 3, hashKeys = true).as[(Long, Long)].collect().toMap
    assert(hashed == hits)
  }

  test("clusters: chain + triangle + pair resolve to min-id components") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("clusters runs on NATIVE string ids (no silent long-cast nulling)") {
    // the former cast("long") turned string ids into NULLs (non-ANSI cast),
    // emptied the edge set, and returned the corpus un-deduped
    val pairs = Seq(("b", "a"), ("b", "c"), ("y", "x")).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).as[(String, String)].collect().toMap
    assert(cl == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("clusters fails loudly on mismatched id column types") {
    val pairs = Seq((1L, "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.clusters(pairs))
    assert(e.getMessage.contains("share one type"))
  }

  test("clusters converge on a 200-node chain (log-round algorithm, not diameter-bound)") {
    // naive min-label propagation needs 199 rounds here and would blow the
    // 50-round cap; alternating star must finish in O(log² n)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(chain).as[(Long, Long)].collect()
    assert(cl.length == 200 && cl.forall(_._2 == 0L))
  }

  test("first-seen-wins: the driver loser path equals the distributed path") {
    import org.apache.spark.sql.types._
    // `fromIdx` names node i; nodes 0 until nNew are the delta's, the rest
    // are store docs. Both paths see the same flagged pairs and the same
    // delta; the gate at 0 forces the distributed rule (and the star
    // rounds inside clusters)
    def survivors[T](idType: DataType, fromIdx: Int => T, nNew: Int,
                     pairs: Seq[(Int, Int)]): (Set[Any], Set[Any]) = {
      val flagged = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs.map { case (a, b) =>
          org.apache.spark.sql.Row(fromIdx(a), fromIdx(b), a < nNew, b < nNew) }, 3),
        StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
          StructField("a_new", BooleanType), StructField("b_new", BooleanType))))
      val delta = spark.createDataFrame(
        spark.sparkContext.parallelize((0 until nNew).map(i =>
          org.apache.spark.sql.Row(fromIdx(i), s"doc $i")), 2),
        StructType(Seq(StructField("doc_id", idType), StructField("text", StringType))))
      def run(gate: Long) = Scope.withCacheScope(
        Dedup.firstSeenWins(delta, "doc_id", gate)(flagged)
          .select("doc_id").collect().map(_.get(0)).toSet[Any])
      (run(100000L), run(0L))
    }
    // a chain 0-1-2-3 whose minimum 0 is store-paired (it loses to the
    // store and no longer links 1..3, so 1 represents them), a self pair,
    // a store-store-free triangle, and a new doc paired only with a store doc
    val fixed = Seq((0, 1), (1, 2), (2, 3), (0, 20), (5, 5), (6, 7), (7, 8), (6, 8),
      (9, 21), (10, 9))
    val (driverL, distL) = survivors(LongType, (i: Int) => i.toLong, 20, fixed)
    assert(driverL == distL)
    assert(driverL == Set[Any](1L, 4L, 5L, 6L, 10L) ++ (11L until 20L).toSet,
      s"got $driverL")
    val rnd = new scala.util.Random(20260419)
    (0 until 3).foreach { _ =>
      val nNew = 24
      val pairs = Seq.fill(30)((rnd.nextInt(32), rnd.nextInt(32)))
        .filter { case (a, b) => a < nNew || b < nNew } // no store-store pairs
      val (d, s) = survivors(LongType, (i: Int) => i.toLong, nNew, pairs)
      assert(d == s, s"pairs $pairs")
    }
    // String ids: U+FFFD sorts BELOW U+1F600 in UTF-8 bytes (Catalyst's
    // order) but above its surrogates in UTF-16 (String.compareTo), so a
    // component holding both must keep the U+FFFD doc on both paths
    val (fffd, grin) = ("\uFFFD", "\uD83D\uDE00")
    val names = IndexedSeq(fffd, grin, "b", grin + "a", "ab", "s1", "s2")
    val strPairs = Seq((1, 0), (3, 1), (2, 4), (4, 5), (3, 3), (2, 6))
    val (driverS, distS) = survivors(StringType, names, 5, strPairs)
    assert(driverS == distS)
    assert(driverS == Set[Any](fffd), s"got $driverS")
  }

  test("dropNearDupsByPairs keeps each cluster's min id and all non-members") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDupsByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("dropNearDups end-to-end removes the minhash near-dup cluster") {
    val kept = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // 1,2 exact dups and 3 a near dup (jaccard > 0.5) → canonical 1 survives
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(4L)) // unrelated doc untouched
  }

  test("incrementalDedup drops store collisions and within-delta twins, keeps fresh docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content describing catalyst optimizer rule internals")
    ).toDF("doc_id", "text")
    val store = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of store 1
      (11L, "a genuinely novel document with fresh unseen vocabulary entirely"),
      (12L, "twin text shared by exactly two new documents in this same batch"),
      (13L, "twin text shared by exactly two new documents in this same batch")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(delta, store, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L), s"got $kept")
    // the pair relation marks sides correctly: 10-vs-store is (old,new),
    // 12/13 is (new,new)
    val pairs = Dedup.minhashPairs(delta, store, "doc_id", "text", threshold = 0.7)._1
      .select("id_a", "id_b", "a_new", "b_new")
      .as[(Long, Long, Boolean, Boolean)].collect().toSet
    assert(pairs.contains((1L, 10L, false, true)))
    assert(pairs.contains((12L, 13L, true, true)))
    assert(!pairs.exists(p => !p._3 && !p._4), "store-store pairs must be dropped")
  }

  test("incrementalDedup: a replay against a store already holding its survivors' signatures keeps them") {
    // the Minhash stage's crash window after its signature append: the
    // replayed batch meets its own survivors in the store and must elect
    // the same survivors, or the corpus append it re-runs loses them
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content describing catalyst optimizer rule internals")
    ).toDF("doc_id", "text")
    val store = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "a genuinely novel document with fresh unseen vocabulary entirely"),
      (12L, "twin text shared by exactly two new documents in this same batch"),
      (13L, "twin text shared by exactly two new documents in this same batch"),
      (14L, "a genuinely novel document with fresh unseen vocabulary entirely!")
    ).toDF("doc_id", "text")
    // with and without an exact twin group (the kernel's expansion path
    // and its fast path)
    Seq(delta, delta.filter(col("doc_id") =!= 13)).foreach { batch =>
      def kept(s: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalDedup(batch, s, "doc_id", "text", threshold = 0.7)
          .select("doc_id").as[Long].collect().toSet
      val first = kept(store)
      assert(first == Set(11L, 12L), s"got $first")
      val replayed = kept(store.unionByName(Dedup.minhashSignatures(
        batch.filter(col("doc_id").isin(first.toSeq: _*)), "doc_id", "text")))
      assert(replayed == first, s"replay kept $replayed")
    }
  }

  test("incrementalDedup with an empty store reduces to within-batch keep-first") {
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "a genuinely novel document with fresh unseen vocabulary entirely"),
      (12L, "twin text shared by exactly two new documents in this same batch"),
      (13L, "twin text shared by exactly two new documents in this same batch")
    ).toDF("doc_id", "text")
    val emptyStore = Dedup.minhashSignatures(delta.filter(lit(false)), "doc_id", "text")
    val kept = Dedup.incrementalDedup(delta, emptyStore, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L, 12L), s"got $kept")
  }

  test("incrementalDedup: a store-dropped within-delta min keeps its novel neighbor") {
    // chain S ~ A ~ B with S !~ B over char-5-gram shingles: 64 distinct
    // 6-char tokens; A edits a 4-token block at the START (vs S), B edits a
    // 4-token block at the END (vs A). Each 4-token edit flips ~32 of ~443
    // shingles → chain Jaccard ≈ 0.87, skip pair (S,B) carries both edits
    // ≈ 0.75; threshold 0.81 splits them, 256 hashes keep the estimator
    // within ±0.03.
    val base = (0 until 64).map(i => f"tok$i%03d")
    def txt(ws: Seq[String]) = ws.mkString(" ")
    val sWords = base
    val aWords = (0 until 4).map(i => f"alt$i%03d") ++ base.drop(4)
    val bWords = aWords.take(60) ++ (0 until 4).map(i => f"bet$i%03d")
    val store = Dedup.minhashSignatures(
      Seq((1L, txt(sWords))).toDF("doc_id", "text"), "doc_id", "text", numHashes = 256)
    val delta = Seq(
      (10L, txt(aWords)), // near-dup of store doc 1 → dropped
      (11L, txt(bWords))  // near-dup of 10 ONLY; sub-threshold vs the store
    ).toDF("doc_id", "text")
    // fixture sanity: exactly the chain pairs, no (1,11) shortcut
    val pairs = Dedup.minhashPairs(delta, store, "doc_id", "text",
        threshold = 0.81, numHashes = 256, bands = 32)._1
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (10L, 11L)), s"fixture drifted: $pairs")
    val kept = Dedup.incrementalDedup(delta, store, "doc_id", "text",
        threshold = 0.81, numHashes = 256, bands = 32)
      .select("doc_id").as[Long].collect().toSet
    // sequential first-seen-wins: 10 duplicates the store; 11 duplicates
    // only the DROPPED 10 — electing 10 as the within-delta component min
    // would lose 11's content from the corpus entirely
    assert(kept == Set(11L), s"got $kept")
  }

  test("readStore heals a compactStore swap interrupted between the renames") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("store_swap").toString + "/store"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def state(suffix: String) = new Path(dir + suffix)
    Seq("a", "b", "b").toDF("fp").write.parquet(dir)
    // reproduce the crash point: compacted generation fully written at
    // .compact.tmp, original renamed away, canonical path GONE
    spark.read.parquet(dir).dropDuplicates("fp").write.parquet(dir + ".compact.tmp")
    assert(fs.rename(new Path(dir), state(".compact.old")))
    // a bare read would conclude "no store yet" and silently forget the
    // whole dedup history; readStore completes the swap instead
    val healed = Stores.read(spark, dir).getOrElse(Seq.empty[String].toDF("fp"))
    assert(healed.as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(fs.exists(new Path(dir)) && !fs.exists(state(".compact.tmp")) &&
      !fs.exists(state(".compact.old")))
    // rollback branch: only the original generation survives the crash
    assert(fs.rename(new Path(dir), state(".compact.old")))
    val rolled = Stores.read(spark, dir).getOrElse(Seq.empty[String].toDF("fp"))
    assert(rolled.as[String].collect().sorted.toSeq == Seq("a", "b"))
    // compactStore heals a leftover mid-swap state before compacting
    assert(fs.rename(new Path(dir), state(".compact.old")))
    val (before, after) = Stores.compactStore(spark, dir, Seq("fp"))
    assert(before == 2 && after == 2)
    // a genuinely-absent store still falls through to orElse
    val none = Stores.read(spark, dir + "_missing").getOrElse(Seq.empty[String].toDF("fp"))
    assert(none.isEmpty)
  }

  test("int8 ANN agrees with float ANN on planted near-identical neighbors") {
    val rnd = new scala.util.Random(29)
    val base = Array.fill(32)(rnd.nextGaussian().toFloat)
    val near = base.map(v => v * 1.002f)
    val vecs = Seq((0L, base), (1L, near)) ++
      (2L to 40L).map(i => i -> Array.fill(32)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 2)
    val floatTop = VectorOps.bruteForceTopK(q, df, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val int8Top = VectorOps.bruteForceTopKInt8(q, df, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // quantization must not disturb a clear-margin ranking
    assert(int8Top == floatTop && int8Top == Map(0L -> 1L, 1L -> 0L))
  }

  test("brute-force ANN ranks the planted neighbor first") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.map(v => v * 1.001f)
    val vecs = Seq((0L, base), (1L, near)) ++
      (2L to 20L).map(i => i -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val top = VectorOps.bruteForceTopK(df.filter(col("vec_id") === 0), df, k = 3)
      .filter(col("rank") === 1).head()
    assert(top.getLong(1) == 1L) // nearest neighbor of 0 is 1
    assert(top.getDouble(2) > 0.999)
  }

  test("dropRepeatedSpans: first occurrence wins, twins empty out, tails dedupe too") {
    // k=4 windows; doc 1 carries the original content, doc 2 is a full twin,
    // doc 3 shares only the first (boilerplate) window, doc 4 is unique,
    // doc 5 repeats a window WITHIN itself
    val docs = Seq(
      (1L, "a b c d e f g h"),        // windows: [a b c d] [e f g h]
      (2L, "a b c d e f g h"),        // exact twin -> rebuilds empty
      (3L, "a b c d x y z w"),        // loses the shared first window only
      (4L, "p q r s t"),              // unique windows survive, incl. 1-token tail
      (5L, "m n o k m n o k")         // within-doc repeat: second window dropped
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedSpans(docs, "doc_id", "text", k = 4)
      .orderBy("id")
      .select("id", "n_toks", "n_kept", "text_out")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 8L, 8L, "a b c d e f g h"),
      (2L, 8L, 0L, ""),
      (3L, 8L, 4L, "x y z w"),
      (4L, 5L, 5L, "p q r s t"),
      (5L, 8L, 4L, "m n o k")))
  }

  test("incrementalSpanDedup: store windows drop everywhere, fresh ones keep-first") {
    // store corpus: "a b c d" -> fp of window [a b c d]
    val store0 = Seq.empty[String].toDF("fp")
    val (r0, fps0) = Dedup.incrementalSpanDedup(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), store0, "doc_id", "text", k = 4)
    assert(r0.select("text_out").as[String].head() == "a b c d")
    val store1 = fps0
    assert(store1.count() == 1)
    // delta: doc 10 repeats the stored window + fresh tail; docs 11/12 are
    // in-batch twins of a fresh window; doc 13 fully known -> empties out
    val delta = Seq(
      (10L, "a b c d x y z w"),
      (11L, "p q r s"),
      (12L, "p q r s"),
      (13L, "a b c d")).toDF("doc_id", "text")
    val (rebuilt, newFps) = Dedup.incrementalSpanDedup(delta, store1, "doc_id", "text", k = 4)
    val out = rebuilt.orderBy("id")
      .select("id", "n_kept", "text_out").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (10L, 4L, "x y z w"),   // stored window dropped, fresh tail kept
      (11L, 4L, "p q r s"),   // within-delta first occurrence
      (12L, 0L, ""),          // within-delta twin
      (13L, 0L, "")))         // fully known
    // the store grows by exactly the two fresh window contents
    val fresh = newFps.as[String].collect().toSet
    assert(fresh.size == 2 && !fresh.exists(store1.as[String].collect().toSet))
  }

  test("incrementalSpanDedup: self-repeating, fully-known and empty docs; one shared window pass") {
    val store = Dedup.spanFingerprints(Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"),
      "doc_id", "text", k = 4)
    val delta = Seq(
      (20L, "x y z w x y z w q"), // repeats its own first window
      (21L, "e f g h a b c d"),   // every window already in the store
      (22L, "")).toDF("doc_id", "text")
    val registered = Scope.registeredCaches
    val (rebuilt, fresh) = Scope.withCacheScope {
      val (r, f) = Dedup.incrementalSpanDedup(delta, store, "doc_id", "text", k = 4)
      (r.orderBy("id").select("id", "n_toks", "n_kept", "text_out")
         .as[(Long, Long, Long, String)].collect().toSeq,
       f.as[String].collect().sorted.toSeq)
    }
    assert(Scope.registeredCaches == registered, "the shared window relation must be scoped")
    assert(rebuilt == Seq(
      (20L, 9L, 5L, "x y z w q"),
      (21L, 8L, 0L, ""),
      (22L, 0L, 0L, "")), s"got $rebuilt")
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // each fresh window content exactly once: the self-repeat is not re-added
    assert(fresh == Seq(md5("q"), md5("x y z w")).sorted, s"got $fresh")
  }

  test("int8 IVF routes and ranks the planted neighbor like float IVF") {
    val rnd = new scala.util.Random(31)
    val base = Array.fill(32)(rnd.nextGaussian().toFloat)
    val near = base.map(v => v * 1.002f)
    val vecs = Seq((0L, base), (1L, near)) ++
      (2L to 80L).map(i => i -> Array.fill(32)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 2)
    val floatTop = VectorOps.ivfTopK(q, df, k = 1, nlist = 4, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val int8Top = VectorOps.ivfTopKInt8(q, df, k = 1, nlist = 4, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // same coarse routing (shared ivfAssign) + clear-margin ranking ->
    // quantization cannot flip the planted nearest neighbor
    assert(int8Top == floatTop && int8Top == Map(0L -> 1L, 1L -> 0L))
  }
}
