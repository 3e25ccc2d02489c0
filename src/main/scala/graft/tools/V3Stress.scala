package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPOSED flagship-v3 pipeline at stress scale — the evidence the
  * per-tier ladders can't give (SCALING.md has 1M-row rows for every
  * constituent tier, but the 10-stage composition — cache barriers +
  * spread + semantic CC + DSIR + the BPE tail interacting — is where a
  * composition bug or memory cliff would hide).
  *
  * Corpus: the `graft.Stress` planted-structure recipe over the sf0.1
  * documents WITH `lang` preserved (DSIR's target split needs it): per
  * base doc a fixed 10-copy duplicate group (5 verbatim exact + 5
  * marker-suffixed near dups) plus spliced unique filler; embeddings from
  * [[SemanticStressCorpus]] with the SAME `id + i·10⁶` copy scheme, so
  * text copy `i` of base `d` carries embedding copy `i` of base `d` —
  * exact text twins have IDENTICAL vectors, near-dup texts ≈7°-off
  * vectors, filler sub-threshold mixtures. Every v3 stage does real work:
  * quality fails are organic, `doc_id % 50 = 0` docs (all copies — 10⁶ is
  * a multiple of 50) are the bench split and plant decontamination hits
  * in every filler doc spliced from a bench parent.
  *
  * The pipeline compiles FROM the checked-in asset
  * (`specs/llm_pipeline_v3.json`) with exactly ONE scale knob overridden:
  * the semantic node's `k` (number of coarse cells), retuned from the
  * gate's toy 8 to `nVectors / 1500` — the SemDeDup operating point every
  * ladder row uses; at 8 cells a 400k-vector corpus would put every cell
  * over `maxClusterSize` and the tier would (correctly, with counted
  * drops) become a no-op instead of being exercised. `k` is the knob a
  * 100 TB operator retunes per corpus; everything else runs verbatim.
  *
  * Env knobs: `SPARK_GRAFT_V3_DOCS` (target corpus size, default 10⁶),
  * `SPARK_GRAFT_V3_COUNTS=0` skips the untimed stage-count/assert pass
  * (for the constrained-heap rerun), `SPARK_DRIVER_MEM` as everywhere.
  * Prints `V3STRESS` rows (gen / run / stages / asserts) for SCALING.md.
  */
object V3Stress {

  /** Stress documents: the `graft.Stress` corpus with `lang` carried
    * through (exact copies and near dups inherit the base doc's lang;
    * spliced filler takes the FIRST parent's).
    */
  private def documents(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text", "lang")
    val baseN = base.count()
    val dupGroup = 10
    val copies = math.max(1, (n / baseN).toInt)
    val dups = (0 until math.min(dupGroup, copies)).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        (if (i < dupGroup / 2) col("text")
         else concat(col("text"), lit(s" copymark$i"))).as("text"),
        col("lang"))
    }.reduce(_ unionByName _)
    val all =
      if (copies <= dupGroup) dups
      else {
        val partner = base.select(col("doc_id").as("pid"), col("text").as("ptext"))
        val idx = spark.range(dupGroup.toLong, copies.toLong).toDF("i")
        val spliced = base.crossJoin(idx)
          .withColumn("pid", (col("doc_id") + col("i") * 131L) % baseN)
          .join(broadcast(partner), "pid")
          .select((col("doc_id") + col("i") * 1000000L).as("doc_id"),
            concat(
              expr("substring(text, 1, cast(length(text) / 2 as int))"),
              expr("substring(ptext, cast(length(ptext) / 2 as int), 100000)")).as("text"),
            col("lang"))
        dups.unionByName(spliced)
      }
    all.repartition(32)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_V3_DOCS", "1000000").toLong
    val doCounts = sys.env.getOrElse("SPARK_GRAFT_V3_COUNTS", "1") != "0"
    val spark = graft.GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new graft.Stress.ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val heapG = Runtime.getRuntime.maxMemory() / (1 << 30)

    // --- corpus generation (documents + embeddings parquet dir) ----------
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("v3stress").toString)
    val t0 = System.nanoTime()
    val haveCorpus = new java.io.File(s"$dir/documents.parquet").exists()
    if (!haveCorpus) {
      documents(spark, n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings cover the sf0.1 ratio (2000 per 5000 docs) with the
      // SAME id+i*1e6 copy scheme — the spec's vec_id = doc_id semi-join
      // pairs text copy i with embedding copy i
      val (emb, _) = SemanticStressCorpus.build(spark, n * 2L / 5L)
      emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    println(f"V3STRESS corpus dir=$dir docs=$nDocs vecs=$nVecs heapG=$heapG " +
      f"gen=${(System.nanoTime() - t0) / 1e9}%.1f s (reused=$haveCorpus)")

    // --- the checked-in spec, sem.k retuned to the corpus -----------------
    import graft.plans._
    val specRaw = SpecJson.fromJson(graft.SparkEntry.llmPipelineV3Json)
    val semK = math.max(8, (nVecs / 1500L).toInt)
    // optional second knob for a DSIR-at-scale variant run: the asset's
    // decontam (n=3, minHits=1) is calibrated to the gate corpus — on a
    // dense stress corpus built from 5000 base docs it floors the cleaned
    // set to ~1k docs (every doc shares SOME 3-gram with the 20k-doc bench
    // split), which is itself a finding, but leaves DSIR toy-sized; n=8
    // is the realistic decontamination gram the composed DSIR variant uses
    val decontamN = sys.env.get("SPARK_GRAFT_V3_DECONTAM_N").map(_.toInt)
    // SPARK_GRAFT_V3_MODEL_DIR: persisted-model-asset mode — the model-
    // bearing nodes (DSIR weights, semantic centroids) train + persist on
    // the FIRST invocation and LOAD on every later one, so the ~97 s of
    // identical compile-time model building (r14 stage attribution) is
    // paid once per corpus, not once per run. Run V3Stress twice with the
    // same corpus dir + model dir and compare the two compile rows.
    val modelDir = sys.env.get("SPARK_GRAFT_V3_MODEL_DIR")
    val spec = specRaw.copy(nodes = specRaw.nodes.map {
      case ("sem", s: SemanticDedupNodeSpec) =>
        "sem" -> s.copy(k = semK,
          modelDir = modelDir.map(m => s"$m/sem").getOrElse(s.modelDir))
      case ("sel", d: DsirNodeSpec) if modelDir.isDefined =>
        "sel" -> d.copy(modelDir = s"${modelDir.get}/dsir")
      case ("cleaned", CacheSpec(d: DecontamNodeSpec)) if decontamN.isDefined =>
        "cleaned" -> CacheSpec(d.copy(n = decontamN.get))
      case other => other
    })
    println(s"V3STRESS spec=specs/llm_pipeline_v3.json override sem.k=8->$semK " +
      s"(nVecs/1500)" + decontamN.map(v => s" decontam.n=3->$v").getOrElse("") +
      modelDir.map(m => s" modelDir=$m").getOrElse("") +
      "; every other field verbatim")

    val stagesMode = sys.env.getOrElse("SPARK_GRAFT_V3_STAGES", "0") == "1"
    PipelineCompiler.withCompiledCacheScope {
      // compile() is not free: DSIR's model collect, firstK centroid
      // collect, and semanticDrop's CC loop all execute at plan-build time
      val tc = System.nanoTime()
      val nodes = PipelineCompiler.compileNodes(spec, spark, Map("dir" -> dir))
      if (stagesMode)
        println(f"V3STRESS stage_time compile    ${(System.nanoTime() - tc) / 1e9}%8.2f s (eager model builds + CC)")
      if (stagesMode) {
        // --- stage attribution (SPARK_GRAFT_V3_STAGES=1, REPLACES the
        //     composed run so cache fills attribute to their stage):
        //     count each stage in dependency order — with every upstream
        //     stage already counted (and caches filled in order), each
        //     marginal wall ≈ that stage's own cost. Approximate (a count
        //     prunes columns the real run reads), but it names the
        //     dominant stages.
        val order = Seq("scored", "passed", "qvecs", "sem", "kept", "spans",
          "deduped", "cleaned", "sel", "train")
        var prev = System.nanoTime()
        order.foreach { name =>
          val rows = nodes(name).count()
          val now = System.nanoTime()
          println(f"V3STRESS stage_time $name%-10s ${(now - prev) / 1e9}%8.2f s rows=$rows%9d")
          prev = now
        }
      } else {
      // --- the timed composed run: compile -> BPE tail -> noop sink ------
      val b0 = meter.bytes.get(); val m0 = meter.memSpill.get(); val d0 = meter.diskSpill.get()
      val t1 = System.nanoTime()
      val train = nodes("train")
      val seg = graft.functions.Bpe.vocabSegmentation(
        graft.functions.Bpe.wordCounts(train, "text"), graft.SparkEntry.bpeGateMerges)
      graft.operators.Packing.packSequencesEncoded(train, "doc_id", "text", seg,
          budgetTokens = 700, shards = 16)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t1) / 1e9
      println(f"V3STRESS composed_run    n=$nDocs%9d $wall%8.2f s " +
        f"shuffleMB=${(meter.bytes.get() - b0) / 1e6}%9.1f " +
        f"spillMemMB=${(meter.memSpill.get() - m0) / 1e6}%9.1f " +
        f"spillDiskMB=${(meter.diskSpill.get() - d0) / 1e6}%8.1f")
      }

      // --- stage survivors vs planted rates (untimed; cached stages cheap,
      //     uncached ones recompute from the nearest cache barrier) --------
      if (doCounts) {
        val corpus = spark.read.parquet(s"$dir/documents.parquet")
        val benchN = corpus.filter(col("doc_id") % 50 === 0).count()
        val twinsN = corpus.filter(col("doc_id") < 64 && col("doc_id") % 50 =!= 0).count()
        def cnt(name: String): Long = nodes(name).count()
        val scored = cnt("scored"); val passed = cnt("passed")
        val qvecs = cnt("qvecs"); val sem = cnt("sem")
        // exact dedup keys on the distinct-token-SET fingerprint
        // (Dedup.exact / TextOps.fingerprint), not the raw text bytes
        val nonemptyDistinct = nodes("nonempty")
          .select(graft.functions.TextOps.fingerprint(col("text")).as("__fp"))
          .distinct().count()
        val deduped = cnt("deduped"); val cleaned = cnt("cleaned")
        val sel = cnt("sel"); val trainN = cnt("train")
        println(s"V3STRESS stages scored=$scored passed=$passed qvecs=$qvecs " +
          s"sem=$sem deduped=$deduped cleaned=$cleaned sel=$sel train=$trainN " +
          s"(bench=$benchN twins=$twinsN)")
        def check(ok: Boolean, what: String): Unit = {
          println(s"V3STRESS assert ${if (ok) "PASS" else "FAIL"} $what")
          if (!ok) { spark.stop(); sys.exit(1) }
        }
        // scored = (corpus − bench) + spec-planted twins (twins are copies
        // of sub-64 ids, all of which pass the %50 filter by construction)
        check(scored == nDocs - benchN + twinsN,
          s"scored == corpus - bench + twins (${nDocs - benchN + twinsN})")
        check(passed <= scored && passed >= (scored * 0.5).toLong,
          "quality accept rate in [0.5, 1] (organic rate ~0.97)")
        check(qvecs <= passed && qvecs <= nVecs,
          "qvecs bounded by passed docs and by the embedding count")
        check(sem < qvecs,
          "semantic tier dropped planted twins (identical-vector groups)")
        // exact dedup keeps exactly one doc per distinct surviving text
        check(deduped == nonemptyDistinct,
          s"exact dedup output == distinct texts ($nonemptyDistinct)")
        check(cleaned < deduped,
          "decontamination dropped planted bench-spliced filler")
        check(sel == 128, "DSIR selected exactly k=128 docs")
        check(trainN > 0 && trainN <= sel, "train split is a nonempty subset of sel")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
