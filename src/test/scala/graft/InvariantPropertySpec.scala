package graft

import org.apache.spark.sql.functions._
import graft.operators.{Packing, Sampling}

/** Randomized invariants over the deterministic sampling/packing layer:
  * the md5-threshold algebra must hold for ARBITRARY parameters, not just
  * the handful of constants the example tests use. Generators are
  * fixed-seed (reproducible failures); each property checks a handful of
  * sampled parameter points against Spark-computed results.
  */
class InvariantPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(4242)
  private lazy val ids = spark.range(2000).toDF("id").persist()

  test("hashSplit partitions exactly, for random weight vectors") {
    (1 to 4).foreach { _ =>
      val k = 2 + rnd.nextInt(3)
      val weights = Seq.tabulate(k)(i => s"s$i" -> (0.05 + rnd.nextDouble()))
      val counts = Sampling.hashSplit(ids, "id", weights)
        .groupBy("split").count().as[(String, Long)].collect().toMap
      assert(counts.values.sum == 2000L, s"weights=$weights lost rows: $counts")
      val total = weights.map(_._2).sum
      weights.foreach { case (name, w) =>
        val expected = 2000.0 * w / total
        assert(math.abs(counts.getOrElse(name, 0L) - expected) < 2000 * 0.06,
          s"split $name=${counts.getOrElse(name, 0L)} far from $expected ($weights)")
      }
    }
  }

  test("TopKBuffer equals sort-take-k for arbitrary insert orders, sizes and merges") {
    import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
    val idOrd = TypeUtils.getInterpretedOrdering(org.apache.spark.sql.types.LongType)
    def reference(entries: Seq[(java.lang.Double, Long)], k: Int) =
      entries.sortWith { case ((s1, i1), (s2, i2)) =>
        val c = if (s1 == null && s2 == null) 0
          else if (s1 == null) 1 else if (s2 == null) -1
          else -SQLOrderingUtil.compareDoubles(s1, s2)
        if (c != 0) c < 0 else i1 < i2
      }.take(k)
    (1 to 20).foreach { _ =>
      val n = rnd.nextInt(300)
      val k = 1 + rnd.nextInt(12)
      // coarse scores force ties; ~10% nulls exercise the nulls-last leg
      val entries = Seq.fill(n)((
        if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(8) / 4.0),
        rnd.nextLong(1000)))
      val buf = new graft.functions.TopKBuffer(k, idOrd)
      entries.foreach { case (s, i) => buf.insert(s, i) }
      val got = (0 until buf.n).map(j => (buf.scores(j), buf.ids(j).asInstanceOf[Long]))
      assert(got == reference(entries, k), s"n=$n k=$k diverged from sort-take")
      // merge in random split points must equal one-shot insertion
      val cut = if (n == 0) 0 else rnd.nextInt(n + 1)
      val (l, r) = entries.splitAt(cut)
      val bl = new graft.functions.TopKBuffer(k, idOrd)
      val br = new graft.functions.TopKBuffer(k, idOrd)
      l.foreach { case (s, i) => bl.insert(s, i) }
      r.foreach { case (s, i) => br.insert(s, i) }
      (0 until br.n).foreach(j => bl.insert(br.scores(j), br.ids(j)))
      val merged = (0 until bl.n).map(j => (bl.scores(j), bl.ids(j).asInstanceOf[Long]))
      assert(merged == reference(entries, k), s"n=$n k=$k cut=$cut merge diverged")
    }
  }

  test("hashSample counts are monotone and nested in the rate") {
    val fracs = Seq.fill(4)(rnd.nextDouble()).sorted
    val kept = fracs.map(f =>
      f -> Sampling.hashSample(ids, "id", f).select("id").as[Long].collect().toSet)
    kept.sliding(2).foreach { case Seq((fa, a), (fb, b)) =>
      assert(a.subsetOf(b), s"sample at $fa not nested in $fb")
    case _ => ()
    }
    // rate accuracy: binomial tolerance
    kept.foreach { case (f, s) =>
      assert(math.abs(s.size - 2000 * f) < 2000 * 0.06, s"rate $f gave ${s.size}")
    }
  }

  test("weightedMix emission count matches the closed form for random weights") {
    val docs = ids.withColumn("dom", lit("d"))
    val buckets = docs.select(col("id"), Sampling.hashBucket(col("id"), "mix").as("b"))
      .as[(Long, String)].collect().toMap
    (1 to 4).foreach { _ =>
      val w = rnd.nextDouble() * 3
      val out = Sampling.weightedMix(docs, "id", "dom", Map("d" -> w)).count()
      val whole = math.floor(w).toLong
      val thresh = f"${math.floor((w - math.floor(w)) * 4294967296.0).toLong}%08x"
      val fracHits = buckets.values.count(_ < thresh)
      assert(out == 2000L * whole + fracHits, s"w=$w: got $out")
    }
  }

  test("packBins matches the offset-range reconstruction for random budgets") {
    val docs = ids.select(col("id"), (col("id") % 211 + 5).as("tokens"))
    val bucketOf = docs.select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .as[(Long, String)].collect().toMap
    (1 to 3).foreach { _ =>
      val budget = 50L + rnd.nextInt(1000)
      val out = Packing.packBins(docs, "id", "tokens", budget, shards = 16)
        .select("id", "shard", "tokens", "bin")
        .as[(Long, String, Long, Long)].collect()
      val expected = out.groupBy(_._2).flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy(r => (bucketOf(r._1), r._1)).toSeq.map { r =>
          val bin = cum / budget; cum += r._3; r._1 -> bin
        }
      }
      assert(out.map(r => r._1 -> r._4).toMap == expected.toMap, s"budget=$budget")
    }
  }

  test("span dedup invariants hold for random corpora and window sizes") {
    // random word-soup corpora with planted twins: every surviving token
    // multiset is a subset of the original, the globally-first document is
    // untouched, exact twins of an earlier doc rebuild empty, and the
    // surviving windows are globally unique contents
    val vocab = Vector("a", "b", "c", "d", "e")
    (1 to 3).foreach { _ =>
      val k = 2 + rnd.nextInt(4)
      val nDocs = 8 + rnd.nextInt(8)
      val texts = Seq.tabulate(nDocs) { i =>
        val len = 1 + rnd.nextInt(40)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant an exact twin of doc 0 at the highest id
      val corpus = (texts :+ (nDocs.toLong, texts.head._2)).toDF("doc_id", "text")
      val out = graft.operators.Dedup.dropRepeatedSpans(corpus, "doc_id", "text", k)
        .select("id", "n_toks", "n_kept", "text_out")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1)
      assert(out.length == nDocs + 1)
      out.foreach { case (_, nToks, nKept, _) => assert(nKept <= nToks) }
      // doc 0 holds the global minimum (id, start) for each of its windows
      // unless an identical window appears EARLIER WITHIN doc 0 itself;
      // its first window always survives
      val first = out.head
      assert(first._4.split("\\s+").filter(_.nonEmpty).take(k).toSeq ==
        texts.head._2.split(" ").take(k).toSeq)
      // the twin of doc 0 loses every window to doc 0
      assert(out.last._3 == 0L && out.last._4.isEmpty,
        s"twin not emptied: ${out.last}")
      // surviving aligned windows are globally unique
      val survivingWindows = out.flatMap { case (_, _, _, t) =>
        t.split("\\s+").filter(_.nonEmpty).grouped(k).map(_.mkString(" "))
      }
      // grouped() re-windows the SURVIVING stream, which only matches the
      // operator's original alignment when no window was dropped in the
      // middle of a doc - so assert uniqueness only over full-k windows of
      // docs that lost nothing (their alignment is unchanged)
      val untouched = out.filter(o => o._2 == o._3)
      val windows = untouched.flatMap { case (_, _, _, t) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        toks.grouped(k).filter(_.length == k).map(_.mkString(" "))
      }
      assert(windows.distinct.length == windows.length,
        s"duplicate k-window survived in untouched docs (k=$k)")
      // split invariance: the same corpus cut by id into 2–4 batches, each
      // deduped against the fingerprints appended so far, rebuilds every
      // document exactly as the empty-store run above (own generator, so
      // the later properties draw the same parameters as before)
      val splitRnd = new scala.util.Random(k * 100 + nDocs)
      val cuts = splitRnd.shuffle((1 to nDocs).toVector).take(1 + splitRnd.nextInt(3)).sorted
      var store = spark.emptyDataset[String].toDF("fp")
      val split = (0 +: cuts).zip(cuts :+ (nDocs + 1)).flatMap { case (lo, hi) =>
        graft.exec.Scope.withCacheScope {
          val (rebuilt, newFps) = graft.operators.Dedup.incrementalSpanDedup(
            corpus.filter(col("doc_id") >= lo && col("doc_id") < hi), store, "doc_id", "text", k)
          val rows = rebuilt.select("id", "n_toks", "n_kept", "text_out")
            .as[(Long, Long, Long, String)].collect()
          store = store.union(newFps.as[String].collect().toSeq.toDF("fp"))
          rows
        }
      }
      assert(split.sortBy(_._1).toSeq == out.toSeq,
        s"k=$k cuts=$cuts: the split run drifted from the batch run")
    }
  }

  test("minhash: the batch dedup is the incremental kernel over an empty store, on random corpora") {
    // random corpora with planted exact twins, near dups at graded edit
    // distances and one exact group larger than maxBucketSize: at each
    // threshold dropNearDups keeps exactly the ids incrementalDedup keeps
    // against an empty store the optimizer cannot see is empty, and the
    // batch pairs are that kernel's pairs, every one flagged new (own
    // generator, so the later properties draw as before)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.Dedup
    val prop = new scala.util.Random(20261021)
    val cap = 8
    (1 to 2).foreach { round =>
      def words(n: Int) = Vector.fill(n)(s"w${prop.nextInt(400)}")
      val bases = Vector.fill(10)(words(20 + prop.nextInt(20)))
      val nears = Vector.fill(5) {
        val b = bases(prop.nextInt(bases.size))
        (1 to 1 + prop.nextInt(8)).foldLeft(b)((w, _) => w.updated(prop.nextInt(w.size), s"x${prop.nextInt(400)}"))
      }
      val twins = Vector.fill(3)(bases(prop.nextInt(bases.size)))
      val big = Vector.fill(cap + 2)(words(30))
      val texts = (bases ++ nears ++ twins).map(_.mkString(" ")) ++
        Vector.fill(cap + 2)(big.head.mkString(" "))
      val ids = prop.shuffle(texts.indices.map(_.toLong).toVector)
      val df = ids.zip(texts).toDF("doc_id", "text")
      val bigIds = ids.takeRight(cap + 2).toSet
      val noStore = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("id", LongType), StructField("sig", ArrayType(LongType)))))
      Seq(0.5, 0.7, 0.8).foreach { t =>
        def kept(out: org.apache.spark.sql.DataFrame) = out.select("doc_id").as[Long].collect().toSet
        val batch = kept(Dedup.dropNearDups(df, "doc_id", "text", t, maxBucketSize = cap))
        val incr = kept(Dedup.incrementalDedup(df, noStore, "doc_id", "text", t, maxBucketSize = cap))
        assert(batch == incr, s"round $round t=$t: batch-only ${batch -- incr}, incremental-only ${incr -- batch}")
        assert(bigIds.subsetOf(batch), s"round $round t=$t: the over-cap group lost members")
        assert(batch.size <= texts.size - twins.size, s"round $round t=$t: a planted twin survived")
        val pairs = Dedup.minhashDedupPairs(df, "doc_id", "text", t, maxBucketSize = cap)
          .as[(Long, Long, Double)].collect().toSet
        val kernel = Dedup.minhashPairs(df, noStore, "doc_id", "text", t, maxBucketSize = cap)._1
          .as[(Long, Long, Boolean, Boolean, Double)].collect().toSet
        assert(kernel.forall(p => p._3 && p._4), s"round $round t=$t: a batch pair flagged old")
        assert(pairs == kernel.map(p => (p._1, p._2, p._5)), s"round $round t=$t: pairs drifted")
      }
    }
    graft.exec.Scope.unpersistCaches()
  }

  test("DSIR weights and selection match the brute force on random corpora") {
    import graft.operators.{CorpusStats, Sampling}
    val vocab = Vector("red", "green", "blue", "cyan", "teal", "lime", "onyx", "gold")
    (1 to 3).foreach { _ =>
      val hexLen = 2 + rnd.nextInt(2) // 256 or 4096 buckets: forces collisions
      val alpha = 0.1 + rnd.nextDouble()
      val k = 3 + rnd.nextInt(8)
      def doc() = Seq.fill(2 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val target = Seq.fill(5 + rnd.nextInt(10))(doc())
      val raw = (0 until (20 + rnd.nextInt(20))).map(i => (i.toLong, doc()))
      val weights = CorpusStats.importanceWeights(
        CorpusStats.hashedGramCounts(target.toDF("text"), "text", hexLen),
        CorpusStats.hashedGramCounts(raw.map(_._2).toDF("text"), "text", hexLen),
        hexLen, alpha)
      // every touched bucket carries the brute-force log-ratio
      val expectedW = DsirBrute.logw(DsirBrute.counts(target, hexLen),
        DsirBrute.counts(raw.map(_._2), hexLen), hexLen, alpha)
      val touched = raw.flatMap(d => DsirBrute.gramBuckets(d._2, hexLen)).distinct
      val gotW = weights.filter(col("bucket").isin(touched: _*))
        .as[(String, Double)].collect().toMap
      touched.foreach { b =>
        assert(math.abs(gotW(b) - expectedW(b)) < 1e-12,
          s"hexLen=$hexLen alpha=$alpha bucket $b: ${gotW(b)} vs ${expectedW(b)}")
      }
      // and the end-to-end selection is the brute-force Gumbel-top-k —
      // compared with a tolerance band around rank k: Spark accumulates the
      // per-doc sum(logw) in partition order while the brute force sums in
      // gram order, so docs whose key sits within float noise of the k-th
      // key may legitimately swap; only docs STRICTLY above (below) the
      // band are mandatory (forbidden)
      val lw = DsirBrute.logw(DsirBrute.counts(target, hexLen),
        DsirBrute.counts(raw.map(_._2), hexLen), hexLen, alpha)
      val keys = raw.filter(d => DsirBrute.gramBuckets(d._2, hexLen).nonEmpty)
        .map { case (id, text) =>
          id -> DsirBrute.gumbelKey(id, DsirBrute.gramBuckets(text, hexLen).map(lw).sum, "dsir")
        }
      val kth = keys.map(_._2).sorted(Ordering[Double].reverse)
        .drop(k - 1).headOption.getOrElse(Double.NegativeInfinity)
      val mandatory = keys.filter(_._2 > kth + 1e-9).map(_._1).toSet
      val forbidden = keys.filter(_._2 < kth - 1e-9).map(_._1).toSet
      val got = Sampling.importanceResample(raw.toDF("doc_id", "text"),
          "doc_id", "text", weights, k, hexLen)
        .select("doc_id").as[Long].collect().toSet
      assert(got.size == math.min(k, keys.size),
        s"hexLen=$hexLen alpha=$alpha k=$k: selected ${got.size} of ${keys.size}")
      assert(mandatory.subsetOf(got),
        s"hexLen=$hexLen alpha=$alpha k=$k: missing clear winners ${mandatory -- got}")
      assert(got.intersect(forbidden).isEmpty,
        s"hexLen=$hexLen alpha=$alpha k=$k: selected clear losers ${got.intersect(forbidden)}")
    }
  }

  test("quality features are total: in [0,1], never NaN/null, on adversarial text") {
    import graft.operators.QualityModel
    val adversarial = Seq(
      "", " ", "\n\t\n", "!!!???###", "a", "ab cd", "😀 😀",
      "字 字 字 字", Seq.fill(500)("x").mkString(" "),
      Seq.fill(50)("the").mkString(" "), "  leading and trailing  ")
    val rows = adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val feats = rows.toDF("id", "text")
      .select(QualityModel.features(col("text")).as("x"))
      .as[Seq[Double]].collect()
    feats.zip(adversarial).foreach { case (x, t) =>
      assert(x != null && x.length == QualityModel.numFeatures, s"null/short features for '$t'")
      x.foreach(v => assert(!v.isNaN && v >= 0.0 && v <= 1.0,
        s"feature out of range for '$t': $x"))
    }
  }

  test("semantic pairs equal the brute-force within-cluster reference on random corpora") {
    import graft.operators.Dedup
    (1 to 3).foreach { _ =>
      val dim = 4 + rnd.nextInt(5)
      val n = 60 + rnd.nextInt(60)
      val k = 2 + rnd.nextInt(4)
      val threshold = 0.5 + rnd.nextDouble() * 0.4
      def vec() = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
      val rows = (0 until n).map(i => (i.toLong, vec()))
      val df = rows.toDF("vid", "v")
      val cents = (0 until k).map(i => (i, rows(i)._2))
      // driver-side reference: same argmax (ties -> lowest cid), same
      // double math order as the kernel (sequential over elements)
      def dcos(a: Seq[Float], b: Seq[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val assign = rows.map { case (id, v) =>
        id -> cents.map { case (cid, cv) => (dcos(v, cv), -cid) }.max._2 * -1
      }.toMap
      val expected = (for {
        (ia, va) <- rows; (ib, vb) <- rows
        if ia < ib && assign(ia) == assign(ib) && dcos(va, vb) >= threshold
      } yield (ia, ib)).toSet
      val got = Dedup.semanticDedupPairs(df, "vid", "v", cents, threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"dim=$dim n=$n k=$k t=$threshold: missing=${expected.diff(got)} extra=${got.diff(expected)}")
    }
  }

  test("clusters(): driver union-find and the star loop give identical membership on random graphs") {
    import graft.operators.Dedup
    import graft.exec.Scope
    (1 to 4).foreach { round =>
      val n = 10 + rnd.nextInt(30)
      val m = 5 + rnd.nextInt(60)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id_a", "id_b")
      def membership(cap: Long) = Scope.withCacheScope {
        Dedup.clusters(pairs, driverCcMaxEdges = cap)
          .as[(Long, Long)].collect().toSet
      }
      val viaDriver = membership(100000L) // union-find path (m << cap)
      val viaStars = membership(0L)       // force the distributed star loop
      assert(viaDriver == viaStars,
        s"round $round n=$n m=$m: driver=${viaDriver.diff(viaStars)} stars=${viaStars.diff(viaDriver)}")
      // and both agree with a reference closure: cluster = min reachable id
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      def comp(s: Long): Set[Long] = {
        var seen = Set(s); var frontier = List(s)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
          seen ++= next; frontier = next
        }
        seen
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).toSet
        .map((v: Long) => (v, comp(v).min))
      assert(viaDriver == expected)
    }
  }

  test("quality score: the codegen-friendly scalar fold is bit-identical to the array+element_at form") {
    // the r12 GeneratePredicate workaround folds over the scalar feature
    // expressions; this pins that it computes the EXACT same integer score
    // as linearScoreOf over the staged features array (same multiplicands,
    // same left-assoc adds), on organic corpus text
    import graft.operators.QualityModel
    import graft.functions.TextOps
    val w = SparkEntry.qualityGateWeights
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val viaArray = docs
      .withColumn("__t", TextOps.tokens(col("text")))
      .select(col("doc_id"), floor(QualityModel.linearScoreOf(
        QualityModel.featuresOf(col("text"), col("__t")), w) * 1000000.0 + 0.5)
        .cast("long").as("s"))
      .as[(Long, Long)].collect().toMap
    val viaScalar = QualityModel.score(docs, "text", w)
      .select("doc_id", "quality_score_1e6").as[(Long, Long)].collect().toMap
    assert(viaArray == viaScalar,
      s"forms diverge: ${viaArray.toSet.diff(viaScalar.toSet).take(3)}")
  }

  test("dropRepeatedLines: idempotent, order-preserving, keeps exactly the distinct lines") {
    import graft.functions.TextOps
    (1 to 4).foreach { _ =>
      val vocab = Seq("alpha", "beta", "gamma", "", "  ", "delta line")
      val lines = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val text = lines.mkString("\n")
      val got = Seq(text).toDF("t")
        .select(TextOps.dropRepeatedLines(col("t"))).as[String].head()
      val expected = lines.distinct.mkString("\n") // Scala distinct keeps first occurrence
      assert(got == expected, s"lines=$lines")
      val again = Seq(got).toDF("t")
        .select(TextOps.dropRepeatedLines(col("t"))).as[String].head()
      assert(again == got, "not idempotent")
    }
  }
}
