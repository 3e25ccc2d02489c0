package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.plans._

/** Time `body`, returning (result, seconds). */
object Clock {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** `plans.*` figures from the spans of the timed rounds. */
object Plans {
  def metrics(timed: Seq[Span]): Map[String, Double] = {
    val compile = timed.filter(_.name == "plans.compile")
    val wall = compile.map(_.wallS).sum
    Map(
      "plans.parse_s" -> Layers.perRound(timed.filter(_.name == "plans.parse"))(_.map(_.wallS).sum),
      "plans.compile_s" -> Layers.perRound(compile)(_.map(_.wallS).sum),
      "plans.compile_jobs" -> Layers.perRound(compile)(_.map(_.jobs.get.toDouble).sum),
      "plans.compile_task_s" -> Layers.perRound(compile)(_.map(_.taskNs.get / 1e9).sum),
      "plans.compile_cores_busy" ->
        (if (wall > 0) compile.map(_.taskNs.get / 1e9).sum / wall else 0.0))
  }
}

/** Text and vector kernels of `graft.functions`, each called alone over a
  * corpus `(doc_id, text)` and vectors `(vec_id, embedding)`, forced
  * through the noop sink.
  */
object Kernels {
  import graft.functions._

  def rates(c: Ctx, docs: DataFrame, vecs: DataFrame): Map[String, Double] = {
    val nDocs = docs.count(); val nVecs = vecs.count()
    def run(name: String, n: Long)(df: => DataFrame): (String, Double) =
      s"functions.$name.rows_per_s" ->
        c.tracer.span(s"functions.$name")(Layers.rate(n)(graft.sinks.Writers.noop(df)))
    val toks = TextOps.tokens(col("text"))
    val seg = Bpe.vocabSegmentation(Bpe.wordCounts(docs, "text"), SparkEntry.bpeGateMerges)
      .localCheckpoint()
    Seq(
      run("quality_score", nDocs)(graft.operators.QualityModel.score(docs, "text",
        SparkEntry.qualityGateWeights).select("quality_score_1e6")),
      run("minhash_sig", nDocs)(graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")),
      run("word_ngrams", nDocs)(docs.select(TextOps.wordNgrams(toks, 3).as("g"))),
      run("span_kernel", nDocs)(docs.select(
        KeptSpans.keptSpans(toks, typedLit(Array(16)), 16).as("k"))),
      run("hashed_grams", nDocs)(docs.select(TextOps.hashedGrams(col("text"), 4).as("g"))),
      run("cosine_normed", nVecs)(vecs.select(VectorMath.cosineSimNormed(col("embedding"),
        reverse(col("embedding")), VectorMath.normSqCol(col("embedding")),
        VectorMath.normSqCol(reverse(col("embedding")))).as("cos"))),
      run("bpe_encode", nDocs)(Bpe.encode(docs, "doc_id", "text", seg))).toMap
  }
}

/** `llm_v3`: the checked-in `specs/llm_pipeline_v3.json` over the seeded
  * `tools.V3Stress` corpus, with only V3Stress's scale overrides
  * (`sem.k = max(8, nVecs / 1500)`, decontamination `n = 8`). One round
  * parses and compiles the spec (`compileNodes`, which runs the eager model
  * builds and cache fills), then packs the train split with the BPE tail
  * into the noop sink. The eight planted-rate counts are taken after the
  * round's wall, before its caches are released.
  */
final class LlmV3(c: Ctx) extends Workload {
  private val s = c.spark
  private val dir = s"${c.inputs}/corpus"
  private var stageCounts: Map[String, Long] = Map.empty

  /** The checked-in spec with V3Stress's two scale overrides. */
  private def spec(vecs: Long): PipelineSpec = {
    val raw = SpecJson.fromJson(SparkEntry.llmPipelineV3Json)
    val semK = math.max(8, (vecs / 1500L).toInt)
    raw.copy(nodes = raw.nodes.map {
      case ("sem", n: SemanticDedupNodeSpec) => "sem" -> n.copy(k = semK)
      case ("cleaned", CacheSpec(d: DecontamNodeSpec)) => "cleaned" -> CacheSpec(d.copy(n = 8))
      case other => other
    })
  }

  /** Parse, compile, pack into the noop sink, observing the packed rows'
    * count and order-free hash; returns (wall, compile wall, nodes, obs).
    */
  private def pipeline(at: String, vecs: Long, tag: String)
      : (Double, Double, Map[String, DataFrame], Map[String, Any]) = {
    val t0 = System.nanoTime()
    val sp = c.tracer.span("plans.parse")(spec(vecs))
    val nodes = c.tracer.span("plans.compile")(PipelineCompiler.compileNodes(sp, s, Map("dir" -> at)))
    val compile = (System.nanoTime() - t0) / 1e9
    val train = nodes("train")
    val obs = new org.apache.spark.sql.Observation(s"perfbench_pack_$tag")
    val packed = c.tracer.span("operators.pack") {
      val seg = graft.functions.Bpe.vocabSegmentation(
        graft.functions.Bpe.wordCounts(train, "text"), SparkEntry.bpeGateMerges)
      graft.operators.Packing.packSequencesEncoded(train, "doc_id", "text", seg,
        budgetTokens = 700, shards = 16)
    }
    c.tracer.span("sinks.noop")(graft.sinks.Writers.noop(packed.observe(obs,
      count(lit(1)).as("rows"), bit_xor(xxhash64(packed.columns.map(col).toIndexedSeq: _*))
        .as("hash"))))
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, compile, nodes, obs.get.map { case (k, v) => k -> v.toString.toLong })
  }

  /** Two pipeline runs on a quarter-size corpus of the same seed: on 4
    * cores the JIT is still compiling through a second execution.
    */
  def warmup(): Unit =
    for (w <- 0 until 2) {
      PipelineCompiler.withCompiledCacheScope(
        pipeline(s"${c.inputs}/warm_corpus", c.params("warm-vecs").toLong, s"warm$w"))
      Main.hygiene(s)
    }

  /** Every round packs the same output (count and hash); the stage counts
    * behind V3Stress's planted-rate asserts are taken once per run, on the
    * first round, after its wall, in one collect.
    */
  def round(i: Int): Op = PipelineCompiler.withCompiledCacheScope {
    val (wall, compile, nodes, packed) = pipeline(dir, c.params("vecs").toLong, s"r$i")
    if (i == 0) {
      def counted(name: String, df: DataFrame) = df.agg(count(lit(1)).as("n"))
        .select(lit(name).as("node"), col("n"))
      stageCounts = (Seq("scored", "passed", "qvecs", "sem", "deduped", "cleaned", "sel", "train")
          .map(n => counted(n, nodes(n))) :+ counted("nonempty_distinct", nodes("nonempty")
            .select(graft.functions.TextOps.fingerprint(col("text")).as("fp")).distinct()))
        .reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    Op(wall, compile, c.params("docs").toLong + c.params("vecs").toLong, null,
      Map("packed" -> packed))
  }

  def checkInfo: Map[String, Any] = Map("stages" -> stageCounts)

  def extras(): Map[String, Double] = {
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    val vecs = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val (_, scan) = Clock(c.tracer.span("sources.scan") {
      graft.sinks.Writers.noop(Tables(s, dir, "documents"))
      graft.sinks.Writers.noop(Tables(s, dir, "embeddings"))
    })
    Kernels.rates(c, docs, vecs) ++ Map("sources.scan_s" -> scan,
      "sources.scan_mb" -> (Layers.du(s"$dir/documents.parquet")._1 +
        Layers.du(s"$dir/embeddings.parquet")._1) / 1e6)
  }

  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double] = {
    val timed = spans.filter(_.round >= 0)
    Plans.metrics(timed) ++ LlmV3.Nodes.flatMap { node =>
      val jobs = c.tracer.nodeJobs.toArray.toSeq
        .map(_.asInstanceOf[(String, Int, Long, Long)]).filter(j => j._1 == node && j._2 >= 0)
      val byRound = ops.indices.map(r => jobs.filter(_._2 == r))
      Seq(s"plans.node.$node.jobs" -> Main.median(byRound.map(_.size.toDouble)),
        s"plans.node.$node.wall_s" -> Main.median(byRound.map(js => LlmV3.union(js) / 1e3)))
    }.toMap ++ Map(
      "sinks.write_s" -> Layers.perRound(timed.filter(_.layer == "sinks"))(_.map(_.wallS).sum))
  }
}

object LlmV3 {
  /** The v3 spec nodes whose compile launches jobs. */
  val Nodes: Seq[String] = Seq("qvecs", "sem", "cleaned", "sel", "train")

  /** Milliseconds covered by the union of the jobs' [start, end] intervals. */
  def union(jobs: Seq[(String, Int, Long, Long)]): Double = {
    var covered = 0L; var end = Long.MinValue
    for ((_, _, a, b) <- jobs.sortBy(_._3)) {
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered.toDouble
  }
}

/** `ingest_serve`: each round lands one parquet file in the drop
  * directory, runs `IngestCompiler.runAvailable` for the checked-in
  * `specs/pretrain_ingest.json`, runs a `VectorIndexIngestSpec` over the
  * same drop into the IVF index built at set-up (folding its delta tier
  * every second round), then serves a fixed batch of 32 ANN queries through
  * `VectorIndex.ivfTopKIndexed` on the live index. The next drop lands only
  * after the batch is written.
  */
final class IngestServe(c: Ctx) extends Workload {
  private val s = c.spark
  private val warm = c.params("warm").toInt
  private val staged = s"${c.inputs}/staged"
  private val root = s"${c.work}/ingest"
  private val index = s"$root/index"
  private var dropBytes = 0L
  private var grown = 0L

  private def pretrain: IngestSpec = SpecJson.ingestFromJson(
    scala.io.Source.fromInputStream(getClass.getResourceAsStream("/specs/pretrain_ingest.json"),
      "UTF-8").mkString)

  private def vidx = VectorIndexIngestSpec(StreamSourceSpec("parquet", s"$root/drop"),
    "doc_id", "embedding", index, s"$root/vidx_ckpt")

  /** Copy round `k`'s staged file into the drop directory; returns its bytes. */
  private def land(k: Int): Long = {
    val src = java.nio.file.Paths.get(s"$staged/docs/r$k.parquet")
    val dst = java.nio.file.Paths.get(s"$root/drop/r$k.parquet")
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.copy(src, dst)
    java.nio.file.Files.size(src)
  }

  /** One round; returns (wall, compile wall). */
  private def serve(k: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    dropBytes += c.tracer.span("bench.land")(land(k))
    val (spec, tp) = Clock(c.tracer.span("plans.parse")(pretrain))
    c.tracer.span("streaming.ingest")(IngestCompiler.runAvailable(s, spec, Map("root" -> root)))
    c.tracer.span("operators.vector_index.append")(IngestCompiler.runAvailable(s, vidx))
    if (k % 2 == 0)
      c.tracer.span("operators.vector_index.fold")(graft.operators.VectorIndex.foldIvfDelta(s, index))
    val queries = c.tracer.span("sources.read")(s.read.parquet(s"$staged/queries/r$k.parquet"))
    val (ann, ta) = Clock(c.tracer.span("operators.vector_index.ann", "ann")(
      graft.operators.VectorIndex.ivfTopKIndexed(queries, index, k = 10, nprobe = 8)))
    c.tracer.span("sinks.parquet", "ann")(graft.sinks.Writers.parquet(ann, s"${c.work}/ann/r$k"))
    ((System.nanoTime() - t0) / 1e9, tp + ta)
  }

  /** Builds the index over its base corpus with pinned centroids (the
    * first 32 base vectors), then serves the warm-up slices.
    */
  def warmup(): Unit = {
    val base = s.read.parquet(s"$staged/index_base.parquet")
    val cents = base.orderBy("vec_id").limit(32).collect().zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Float](1).map(_.toDouble)) }.toSeq
    graft.operators.VectorIndex.buildIvfIndexPinned(base, index, cents)
    for (k <- 0 until warm) {
      serve(k)
      Main.hygiene(s)
    }
    dropBytes = 0L
  }

  override def maxRounds: Int = c.params("rounds").toInt

  private def storeDirs = Seq("corpus", "sem", "span", "index").map(d => s"$root/$d")
  private def stores: Long = storeDirs.map(d => Layers.du(d)._1).sum

  def round(i: Int): Op = {
    val k = i + warm
    val before = stores
    val (wall, compile) = serve(k)
    grown += stores - before
    Op(wall, compile, c.params("rows").toLong, null,
      Map("round" -> k, "ann" -> s"${c.work}/ann/r$k"))
  }

  def checkInfo: Map[String, Any] = Map("corpus" -> s"$root/corpus")

  def extras(): Map[String, Double] = {
    val drops = s.read.parquet(s"$staged/docs")
    val (_, scan) = Clock(c.tracer.span("sources.scan")(graft.sinks.Writers.noop(drops)))
    // a round with no new file: the fixed per-round floor of both ingests
    val (_, empty) = Clock(c.tracer.span("streaming.empty_round") {
      IngestCompiler.runAvailable(s, pretrain, Map("root" -> root))
      IngestCompiler.runAvailable(s, vidx)
    })
    val (_, compact) = Clock(c.tracer.span("sinks.compact") {
      graft.operators.Dedup.compactStore(s, s"$root/corpus", Seq("doc_id"))
      graft.operators.Dedup.compactStore(s, s"$root/span", Seq("fp"))
      graft.operators.Dedup.compactStore(s, s"$root/sem", Seq("id"))
    })
    Kernels.rates(c, drops.select("doc_id", "text"),
      drops.select(col("doc_id").as("vec_id"), col("embedding"))) ++ Map(
      "sources.scan_s" -> scan, "sources.scan_mb" -> Layers.du(s"$staged/docs")._1 / 1e6,
      "streaming.empty_round_s" -> empty, "sinks.compact_round_s" -> compact)
  }

  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double] = {
    val timed = spans.filter(_.round >= 0)
    def med(name: String) = Main.median(timed.filter(_.name == name).map(_.wallS))
    Plans.metrics(timed) ++ Map(
      "operators.vector_index.append_s" -> med("operators.vector_index.append"),
      "operators.vector_index.fold_s" -> med("operators.vector_index.fold"),
      "operators.vector_index.ann_s" -> Layers.perRound(timed.filter(_.tag == "ann"))(
        _.map(_.wallS).sum),
      "streaming.round_s" -> med("streaming.ingest"),
      "streaming.jobs_per_round" -> Layers.perRound(timed.filter(_.name == "streaming.ingest"))(
        _.map(_.jobs.get.toDouble).sum),
      "sinks.write_s" -> Layers.perRound(timed.filter(_.layer == "sinks"))(_.map(_.wallS).sum),
      "sinks.bytes_per_input_byte" -> grown.toDouble / math.max(1L, dropBytes),
      "sinks.live_files" -> storeDirs.map(d => Layers.du(d)._2).sum.toDouble)
  }
}
