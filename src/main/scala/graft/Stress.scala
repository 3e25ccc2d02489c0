package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.exec.Scope

/** Scaling stress harness: times each dedup tier over synthetic corpora of
  * increasing size, recording wall seconds, output rows, pairs/minute and
  * SHUFFLE BYTES per stage (the number that decides whether a plan survives
  * 100 TB). Results feed the table in SCALING.md.
  *
  * Corpus construction (per target size): every base document from sf0.1
  * is replicated `copies` times — the first [[DupGroup]] copies form a
  * fixed-size duplicate group: the first HALF are verbatim EXACT copies
  * (the dominant dup class in a real crawl — identical pages under
  * different URLs; this is what exact-dup canonicalization collapses),
  * the second half marker-suffixed NEAR duplicates (distinct shingle
  * sets, the LSH load). All later copies are spliced unique filler.
  * Duplicate GROUP SIZE is constant as the corpus grows, so measured cost
  * tracks corpus size, not a quadratically exploding pair output — the
  * regime where scan/banding/bucket scaling is visible.
  *
  * `SPARK_GRAFT_STRESS_SIZES` (comma-separated doc counts, default
  * "50000,200000,1000000") picks the corpus ladder;
  * `SPARK_GRAFT_STRESS_STAGES` (comma-separated stage names) restricts the
  * run to named tiers for single-row re-measurement.
  */
object Stress {

  private val DupGroup = 10

  private[graft] final class ShuffleMeter extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    // spill accounting for the memory-pressure rows: memoryBytesSpilled is
    // the in-memory size of data that overflowed execution memory,
    // diskBytesSpilled its serialized on-disk size — nonzero spill with a
    // completed run IS the spill-not-OOM claim
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
      diskSpill.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(master = "local[32]", shufflePartitions = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val baseN = base.count()
    val sizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SIZES", "50000,200000,1000000")
      .split(",").map(_.trim.toLong)

    // Unique filler copies are built by SPLICING two base documents (first
    // half of doc d + second half of a stride-chosen partner): overlap with
    // either parent sits far below every tier's similarity bar, every
    // (doc, copy) combination is textually distinct, and construction is
    // one broadcast join — no per-copy rotation scheme that silently
    // repeats and reintroduces quadratic duplicate groups.
    def corpus(n: Long): DataFrame = {
      val copies = math.max(1, (n / baseN).toInt)
      val dups = (0 until math.min(DupGroup, copies)).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          (if (i < DupGroup / 2) col("text")
           else concat(col("text"), lit(s" copymark$i"))).as("text"))
      }.reduce(_ unionByName _)
      val all =
        if (copies <= DupGroup) dups
        else {
          val partner = base.select(col("doc_id").as("pid"), col("text").as("ptext"))
          val idx = spark.range(DupGroup.toLong, copies.toLong).toDF("i")
          val spliced = base.crossJoin(idx)
            .withColumn("pid", (col("doc_id") + col("i") * 131L) % baseN)
            .join(broadcast(partner), "pid")
            .select((col("doc_id") + col("i") * 1000000L).as("doc_id"),
              concat(
                expr("substring(text, 1, cast(length(text) / 2 as int))"),
                expr("substring(ptext, cast(length(ptext) / 2 as int), 100000)")).as("text"))
          dups.unionByName(spliced)
        }
      all.repartition(32)
    }

    for (n <- sizes) {
      val big = corpus(n).persist()
      val actual = big.count()
      println(s"STRESS corpus=$actual (target $n, dup-group=${math.min(DupGroup, (n / baseN).toInt)})")
      val only = sys.env.get("SPARK_GRAFT_STRESS_STAGES").map(_.split(",").map(_.trim).toSet)
      def time(name: String)(f: => Long): Unit = if (only.forall(_.contains(name))) {
        val b0 = meter.bytes.get(); val t0 = System.nanoTime()
        val (m0, d0) = (meter.memSpill.get(), meter.diskSpill.get())
        val rows = f
        val secs = (System.nanoTime() - t0) / 1e9
        val mb = (meter.bytes.get() - b0) / 1e6
        val spillMemMB = (meter.memSpill.get() - m0) / 1e6
        val spillDiskMB = (meter.diskSpill.get() - d0) / 1e6
        val perMin = if (secs > 0) rows / (secs / 60.0) else 0.0
        println(f"STRESS $name%-18s n=$actual%9d $secs%8.2f s rows=$rows%9d shuffleMB=$mb%9.1f spillMemMB=$spillMemMB%9.1f spillDiskMB=$spillDiskMB%8.1f rowsPerMin=$perMin%12.0f")
      }
      time("exact_dedup")(Dedup.exact(big, "text", "doc_id").count())
      // data-card report: the action must REFERENCE every output column —
      // a bare count() would let ColumnPruning drop the unused aggregate
      // expressions and measure an empty shell; "rows" = total docs
      time("corpus_report") {
        val rep = graft.operators.CorpusStats.corpusReport(
          big.withColumn("grp", pmod(col("doc_id"), lit(8L))), "text", "grp")
        val r = rep.select(
          sum(col("n_docs")).as("d"),
          sum(col("n_distinct") + col("n_tokens") + col("n_chars") +
            col("p25_toks_c100") + col("p50_toks_c100") + col("p75_toks_c100")).as("all"))
          .head()
        r.getLong(0)
      }
      // NOT count(): the drop relation is unique per id, so Catalyst
      // ELIMINATES the rebuild left-join from a bare count (measured 0.2 s /
      // 0 shuffle at 1M — nothing ran). sum(n_kept) forces windowing,
      // global ranking, and the rebuild join; "rows" = surviving tokens.
      time("span_dedup")(Dedup.dropRepeatedSpans(big, "doc_id", "text", 16)
        .select(sum(col("n_kept"))).head.getLong(0))
      time("minhash_pairs")(Dedup.minhashDedupPairs(big, "doc_id", "text", 0.7).count())
      // exact-duplicate-SATURATED variant (the boilerplate-crawl regime the
      // rep canonicalization exists for): every base doc replicated
      // verbatim, so the whole corpus collapses to baseN distinct shingle
      // sets — banding/verify run on baseN reps and the quadratic
      // duplicate pair volume is emitted via the array-free intra path
      if (only.forall(_.contains("minhash_exactdup"))) {
        val copies = math.max(1, (n / baseN).toInt)
        val exactHeavy = (0 until copies).map(i =>
          base.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"), col("text")))
          .reduce(_ unionByName _).repartition(32).persist()
        exactHeavy.count()
        time("minhash_exactdup")(
          Dedup.minhashDedupPairs(exactHeavy, "doc_id", "text", 0.7).count())
        exactHeavy.unpersist(false)
      }
      // decontamination: 2% of the corpus as the bench split (the v3
      // composed shape) — at 1M that's ~1M distinct gram strings, past the
      // broadcast threshold, i.e. exactly the shuffle-join regime the
      // hashKeys=true form exists for; "rows" = surviving docs (the two
      // variants agree unless a 64-bit collision lands, which can only
      // drop an extra already-contaminated-adjacent doc)
      if (only.forall(o => o.contains("decontam_exact") || o.contains("decontam_hash"))) {
        val bench = big.filter(col("doc_id") % 50 === 0).persist()
        bench.count()
        val train = big.filter(col("doc_id") % 50 =!= 0)
        // n=8 (the DecontamNodeSpec default / realistic pretraining gram):
        // n=3 on this generator-dense corpus drops every doc (measured —
        // the composed-v3 finding), which understates the anti-join side
        time("decontam_exact")(
          Dedup.decontaminate(train, bench, "doc_id", "text", 8, 1).count())
        time("decontam_hash")(
          Dedup.decontaminate(train, bench, "doc_id", "text", 8, 1,
            hashKeys = true).count())
        bench.unpersist(false)
      }
      time("simhash_pairs")(Dedup.simhashPairs(big, "doc_id", "text", 3).count())
      time("drop_near_dups")(Dedup.dropNearDups(big, "doc_id", "text", 0.7).count())
      if (only.forall(_.contains("incremental_dedup"))) {
        val store = Dedup.minhashSignatures(
          big.filter(col("doc_id") % 10 =!= 0), "doc_id", "text").persist()
        store.count()
        time("incremental_dedup")(Dedup.incrementalDedup(
          big.filter(col("doc_id") % 10 === 0), store, "doc_id", "text", 0.7).count())
        store.unpersist(false)
      }
      if (only.forall(_.contains("incremental_spans"))) {
        val fpStore = Dedup.spanFingerprints(
          big.filter(col("doc_id") % 10 =!= 0), "doc_id", "text").persist()
        fpStore.count()
        // same count() caveat as span_dedup: force via sum(n_kept)
        time("incremental_spans")(Scope.withCacheScope {
          val (rebuilt, _) = Dedup.incrementalSpanDedup(
            big.filter(col("doc_id") % 10 === 0), fpStore, "doc_id", "text")
          rebuilt.select(sum(col("n_kept"))).head().getLong(0)
        })
        fpStore.unpersist(false)
      }
      // DSIR selection over the same corpus: target model from a ~1%
      // deterministic slice, background from the whole corpus. The count
      // models are persisted before weighting (the documented run-once
      // model discipline — importanceWeights references each twice), and
      // timed separately from the selection pass they parameterize.
      if (only.forall(_.contains("dsir_resample"))) {
        import graft.operators.{CorpusStats, Sampling}
        val t0 = System.nanoTime()
        val ct = CorpusStats.hashedGramCounts(
          big.filter(col("doc_id") % 97 === 0), "text").persist()
        val cr = CorpusStats.hashedGramCounts(big, "text").persist()
        val modelBuckets = ct.count() + cr.count()
        println(f"STRESS dsir_model        n=$actual%9d ${(System.nanoTime() - t0) / 1e9}%8.2f s buckets=$modelBuckets")
        val w = CorpusStats.importanceWeights(ct, cr)
        time("dsir_resample")(
          Sampling.importanceResample(big, "doc_id", "text", w, k = 10000).count())
        ct.unpersist(false); cr.unpersist(false)
      }
      // Embedding analogue of the text corpus — construction and the
      // planted-pair accounting live in tools.SemanticStressCorpus (its
      // recall split is this ladder's semantic-dedup row in SCALING.md):
      // per base, exact twins + ≈7° near dups, with midpoint-mixture
      // filler that plants NO pairs of its own. Centroid count targets
      // ~1500-vector cells — the SemDeDup operating point where the
      // within-cell quadratic stays tractable; training runs on a capped
      // deterministic sample.
      if (only.forall(_.contains("semantic_dedup"))) {
        val (embRaw, _) = graft.tools.SemanticStressCorpus.build(spark, n)
        val emb = embRaw.persist()
        val eActual = emb.count()
        val k = math.max(8, (eActual / 1500).toInt)
        val t0 = System.nanoTime()
        val cents = Dedup.trainSemanticCentroids(emb, "vec_id", "embedding", k,
          trainSampleCap = 100000L)
        println(f"STRESS semantic_train    n=$eActual%9d ${(System.nanoTime() - t0) / 1e9}%8.2f s k=$k")
        time("semantic_dedup")(
          Dedup.semanticDedupPairs(emb, "vec_id", "embedding", cents, 0.95).count())
        emb.unpersist(false)
      }
      big.unpersist(false)
      Scope.unpersistCaches()
    }
    spark.stop()
  }
}
