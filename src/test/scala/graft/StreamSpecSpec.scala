package graft

import graft.plans._
import org.apache.spark.sql.functions._

/** The persisted STREAMING-ingest spec surface: JSON round-trip for every
  * [[IngestSpec]] kind, placeholder substitution, the checked-in
  * pretrain-ingest asset (no-drift + an actual drain round), and the
  * spec-vs-programmatic equivalence of a dispatch arm. The composed
  * pretrain kind is driver-gated end-to-end (`q_s_spec_ingest`, full
  * DuckDB replay across two AvailableNow restarts) — these tests cover
  * the surface the gate can't: per-kind serialization totality and the
  * asset file.
  */
class StreamSpecSpec extends SparkSpec {
  import spark.implicits._

  private val src = StreamSourceSpec("parquet", "{%root%}/drop", Map("opt" -> "{%root%}/v"))
  private val cents = Seq(0 -> Seq(0.25f, -0.5f, 7.014891e-4f), 3 -> Seq(1.0f, 2.0f, -3.0f))

  test("EVERY IngestSpec kind round-trips: serialize -> parse -> identical spec") {
    // one exemplar per subclass, every field non-default so a dropped or
    // renamed JSON field can't hide behind a default; no wildcard arm —
    // adding an IngestSpec subclass without extending this is a compile
    // error (match-analysis warnings escalate), same guarantee as
    // SpecJsonSpec's OpSpec totality test
    def exemplar(shape: IngestSpec): IngestSpec = shape match {
      case _: QualityIngestSpec =>
        QualityIngestSpec(src, "body", Seq(-1.5, 2.25, 0.125), "/c", "/k")
      case _: ImportanceIngestSpec =>
        ImportanceIngestSpec(src, "id", "body", "/w", -12.5, "/c", "/k", hexLen = 3)
      case _: MinhashIngestSpec =>
        MinhashIngestSpec(src, "id", "body", 0.65, "/c", "/s", "/k", compactEvery = 4)
      case _: SpanIngestSpec =>
        SpanIngestSpec(src, "id", "body", k = 24, "/c", "/s", "/k", compactEvery = 2)
      case _: SemanticIngestSpec =>
        SemanticIngestSpec(src, "id", "vec", cents, 0.85, "/c", "/s", "/k", compactEvery = 5)
      case _: VectorIndexIngestSpec =>
        VectorIndexIngestSpec(src, "id", "vec", "/idx", "/k", compactEvery = 6)
      case _: PretrainIngestSpec =>
        PretrainIngestSpec(src, "id", "body", "vec", Seq(0.5, -0.25), cents,
          semThreshold = 0.8, spanK = 32, "/c", "/sem", "/span", "/k",
          dsirWeightsDir = Some("/w"), minLogw = -7.75, compactEvery = 3,
          maxDocChars = 1234)
    }
    val shapes: Seq[IngestSpec] = Seq(
      exemplar(QualityIngestSpec(src, "", Nil, "", "")),
      exemplar(ImportanceIngestSpec(src, "", "", "", 0, "", "")),
      exemplar(MinhashIngestSpec(src, "", "", 0, "", "", "")),
      exemplar(SpanIngestSpec(src, "", "", 0, "", "", "")),
      exemplar(SemanticIngestSpec(src, "", "", Nil, 0, "", "", "")),
      exemplar(VectorIndexIngestSpec(src, "", "", "", "")),
      exemplar(PretrainIngestSpec(src, "", "", "", Nil, Nil, 0, 0, "", "", "", "")))
    shapes.foreach { s =>
      val json = SpecJson.ingestToJson(s)
      assert(SpecJson.isIngestJson(json), s"$s must be detected as ingest JSON")
      assert(SpecJson.ingestFromJson(json) == s, s"round-trip mismatch for $s:\n$json")
    }
    // the float centroids round-trip BIT-exactly (Float.toString is the
    // shortest decimal that parses back to the same float32) — the pinned
    // model in the asset survives serialization untouched
    val sem = exemplar(SemanticIngestSpec(src, "", "", Nil, 0, "", "", ""))
      .asInstanceOf[SemanticIngestSpec]
    val back = SpecJson.ingestFromJson(SpecJson.ingestToJson(sem))
      .asInstanceOf[SemanticIngestSpec]
    sem.centroids.zip(back.centroids).foreach { case ((_, a), (_, b)) =>
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)) }
    }
  }

  test("minLogw = -Infinity (no DSIR gate) encodes by omission and parses back") {
    val s = PretrainIngestSpec(src, "id", "t", "v", Seq(1.0), cents, 0.9, 16,
      "/c", "/sem", "/span", "/k")
    val json = SpecJson.ingestToJson(s)
    assert(!json.contains("minLogw"), json)
    assert(!json.contains("dsirWeightsDir"), json)
    assert(SpecJson.ingestFromJson(json) == s)
    // the importance arm follows the same convention (no "-Infinity"
    // string ever reaches the JSON)
    val imp = ImportanceIngestSpec(src, "id", "t", "/w",
      Double.NegativeInfinity, "/c", "/k")
    val impJson = SpecJson.ingestToJson(imp)
    assert(!impJson.contains("Infinity"), impJson)
    assert(SpecJson.ingestFromJson(impJson) == imp)
  }

  test("hand-authored JSON: missing/typo'd REQUIRED fields fail the parse by name") {
    val good = SpecJson.ingestToJson(QualityIngestSpec(src, "text", Seq(1.0), "/c", "/k"))
    // drop the key from the tree, not its line: a dropped LAST line would
    // leave a trailing comma, and the parse would fail on syntax instead
    def withoutField(f: String): String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(good)
      root.get("ingest").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove(f)
      m.writeValueAsString(root)
    }
    for (f <- Seq("corpusDir", "textCol", "checkpointDir")) {
      val e = intercept[IllegalArgumentException] {
        SpecJson.ingestFromJson(withoutField(f)) }
      assert(e.getMessage.contains(f), s"error must name '$f': ${e.getMessage}")
    }
    val noSource = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson("""{"ingest": {"kind": "quality"}}""") }
    assert(noSource.getMessage.contains("source"))
    val noWeights = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson(good.replace("\"weights\"", "\"wights\"")) }
    assert(noWeights.getMessage.contains("weights"))
    // the source's own fields are required too
    val noPath = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson(good.replace("\"path\"", "\"paht\"")) }
    assert(noPath.getMessage.contains("path"), noPath.getMessage)
    // JSON null counts as missing, not as the literal string "null"
    // (NullNode.asText returns "null" — a corpus must not land in ./null)
    val nullDir = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson(good.replaceFirst(""""corpusDir"\s*:\s*"/c"""",
        "\"corpusDir\" : null")) }
    assert(nullDir.getMessage.contains("corpusDir"), nullDir.getMessage)
  }

  test("hand-authored JSON: non-numeric model values fail the parse, not coerce to 0") {
    val good = SpecJson.ingestToJson(QualityIngestSpec(src, "text", Seq(1.0, 2.0), "/c", "/k"))
    // a typo'd weight must not become a silently-zeroed model
    val badWeight = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson(good.replace("2.0", "\"0..3\"")) }
    assert(badWeight.getMessage.contains("weights"), badWeight.getMessage)
    val mh = SpecJson.ingestToJson(MinhashIngestSpec(src, "id", "t", 0.8, "/c", "/s", "/k"))
    val badThr = intercept[IllegalArgumentException] {
      SpecJson.ingestFromJson(mh.replace("0.8", "\"high\"")) }
    assert(badThr.getMessage.contains("threshold"), badThr.getMessage)
  }

  test("batch pipeline JSON is NOT ingest JSON (RunSpec's dispatch key)") {
    val batch = SpecJson.toJson(PipelineSpec(
      Seq("a" -> SourceSpec("parquet", "/x")), out = "a"))
    assert(!SpecJson.isIngestJson(batch))
    intercept[IllegalArgumentException] { SpecJson.ingestFromJson(batch) }
  }

  test("substituted() resolves {%var%} in every string field, params reach the sinks") {
    val s = PretrainIngestSpec(src, "id", "t", "{%vc%}", Nil, Nil, 0.9, 16,
      "{%root%}/c", "{%root%}/sem", "{%root%}/span", "{%root%}/k",
      dsirWeightsDir = Some("{%root%}/w"))
    val r = SpecJson.substitute(s, Map("root" -> "/data/run7", "vc" -> "emb"))
      .asInstanceOf[PretrainIngestSpec]
    assert(r.source.path == "/data/run7/drop")
    assert(r.source.options("opt") == "/data/run7/v")
    assert(r.vecCol == "emb")
    assert(r.corpusDir == "/data/run7/c" && r.semStoreDir == "/data/run7/sem")
    assert(r.spanStoreDir == "/data/run7/span" && r.checkpointDir == "/data/run7/k")
    assert(r.dsirWeightsDir.contains("/data/run7/w"))
    assert(IngestCompiler.primarySink(r) == "/data/run7/c")
  }

  test("batch {%var%} substitution reaches every string field: source options, joinType") {
    // the batch compiler substitutes with the same walk as the ingest specs:
    // source options and join types are strings like any other
    val root = java.nio.file.Files.createTempDirectory("batch_sub").toString
    def csv(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$name.csv"),
        lines.mkString("\n").getBytes("UTF-8"))
    csv("left", "k;v", "1;x", "2;y", "3;z")
    csv("vocab", "k;label", "1;one", "2;two")
    def source(name: String) = SourceSpec("csv", s"{%root%}/$name.csv",
      Map("sep" -> "{%sep%}", "header" -> "true"))
    val spec = PipelineSpec(Seq(
      "left"   -> source("left"),
      "vocab"  -> source("vocab"),
      "joined" -> JoinSpec(RefSpec("left"), RefSpec("vocab"), "k", "k", joinType = "{%jt%}")),
      out = "joined")
    val params = Map("root" -> root, "sep" -> ";", "jt" -> "inner")
    val left = PipelineCompiler.compile(spec.copy(out = "left"), spark, params)
    assert(left.columns.toSeq == Seq("k", "v"), "the csv separator placeholder must resolve")
    val joined = PipelineCompiler.compile(spec, spark, params)
    assert(joined.count() == 2, "an inner join keeps only the two matched keys")
  }

  test("a first ingest round into empty stores runs no failed query") {
    // the store read lists the store for committed data instead of probing
    // it with a read that fails: Spark reports a failed read to every
    // query-execution listener, which logged an error on each first round
    val root = java.nio.file.Files.createTempDirectory("first_round").toString
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text").limit(50)
      .write.parquet(s"$root/drop")
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = failed.add(s"$f: ${e.getMessage}")
    }
    spark.listenerManager.register(listener)
    try {
      IngestCompiler.runAvailable(spark, SpanIngestSpec(
        StreamSourceSpec("parquet", s"$root/drop"), "doc_id", "text", 16,
        s"$root/corpus", s"$root/store", s"$root/ckpt"))
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$root/corpus").count() > 0)
    assert(failed.isEmpty, s"failed queries in a first round: $failed")
  }

  test("checked-in pretrain-ingest asset is in canonical form (no drift)") {
    val file = SpecJson.resource("/specs/pretrain_ingest.json")
    assert(file == SpecJson.ingestToJson(SpecJson.ingestFromJson(file)),
      "specs/pretrain_ingest.json is not in canonical form")
  }

  test("the ASSET runs: one AvailableNow round drains a drop; an empty round is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("asset_ingest").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select("doc_id", "text", "embedding")
      .write.mode("overwrite").parquet(s"$root/drop")
    val spec = SpecJson.ingestFromJson(SpecJson.resource("/specs/pretrain_ingest.json"))
    IngestCompiler.runAvailable(spark, spec, Map("root" -> root))
    val n1 = spark.read.parquet(s"$root/corpus").count()
    assert(n1 > 0, "asset round must ingest accepted documents")
    // a second invocation with NO new files resumes the checkpoint,
    // processes zero batches, terminates — the cron-loop steady state
    IngestCompiler.runAvailable(spark, spec, Map("root" -> root))
    assert(spark.read.parquet(s"$root/corpus").count() == n1,
      "empty round must append nothing")
    // drained files ARCHIVED (deleted) between rounds — the schema pinned
    // at the checkpoint on round 1 keeps later rounds working on an empty
    // drop directory instead of failing static re-inference
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/drop"))
      .iterator().asScala.toList.foreach(java.nio.file.Files.delete)
    IngestCompiler.runAvailable(spark, spec, Map("root" -> root))
    assert(spark.read.parquet(s"$root/corpus").count() == n1,
      "archived-drop round must be a no-op, not an inference failure")
  }

  test("source options pass through: maxFilesPerTrigger bounds per-round micro-batches") {
    // the 100 TB knob: a backlogged drop directory (millions of files)
    // must not become ONE giant micro-batch — the spec's source options
    // reach the readStream, so 'maxFilesPerTrigger' splits an AvailableNow
    // round into bounded batches, and verdicts are batch-invariant
    val root = java.nio.file.Files.createTempDirectory("mfpt").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).repartition(1)
        .write.mode("append").parquet(s"$root/drop")
    }
    val spec = QualityIngestSpec(
      StreamSourceSpec("parquet", s"$root/drop", Map("maxFilesPerTrigger" -> "1")),
      "text", SparkEntry.qualityGateWeights, s"$root/corpus", s"$root/ckpt")
    val q = IngestCompiler.start(spark, SpecJson.substitute(spec, Map.empty),
      Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
    assert(nonEmpty == 3, s"expected 3 one-file batches, saw $nonEmpty")
    val got = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val want = graft.operators.QualityModel
      .score(docs, "text", SparkEntry.qualityGateWeights)
      .filter(col("quality_accept") === 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == want, "batch split must not change verdicts")
  }

  test("ingestDag exports {nodes, links}: source -> ingest -> every sink, models as inputs") {
    val asset = SpecJson.ingestFromJson(SpecJson.resource("/specs/pretrain_ingest.json"))
    val dag = SpecJson.ingestDag(asset
      .asInstanceOf[PretrainIngestSpec].copy(dsirWeightsDir = Some("{%root%}/w")))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(dag)
    import scala.jdk.CollectionConverters._
    val types = m.get("nodes").elements().asScala.map(_.get("type").asText).toSet
    assert(types == Set("source:parquet", "ingest:pretrain", "model:dsirWeights",
      "sink:corpus", "store:assignedVectors", "store:spanFps"), types.toString)
    val links = m.get("links").elements().asScala
      .map(l => l.get("source").asText -> l.get("target").asText).toSet
    assert(links == Set(
      "{%root%}/drop" -> "pretrain", "{%root%}/w" -> "pretrain",
      "pretrain" -> "{%root%}/corpus", "pretrain" -> "{%root%}/sem",
      "pretrain" -> "{%root%}/span"), links.toString)
    assert(m.get("out").asText == "{%root%}/corpus")
    // the six other kinds: each one's node types, links and `out`
    def exported(spec: IngestSpec) = {
      val d = new com.fasterxml.jackson.databind.ObjectMapper().readTree(SpecJson.ingestDag(spec))
      (d.get("nodes").elements().asScala.map(_.get("type").asText).toSet,
        d.get("links").elements().asScala
          .map(l => l.get("source").asText -> l.get("target").asText).toSet,
        d.get("out").asText)
    }
    val drop = "{%root%}/drop"
    val kinds = Seq(
      QualityIngestSpec(src, "t", Seq(1.0), "/c", "/k") ->
        (Set("source:parquet", "ingest:quality", "sink:corpus"),
          Set(drop -> "quality", "quality" -> "/c"), "/c"),
      ImportanceIngestSpec(src, "id", "t", "/w", -3.0, "/c", "/k") ->
        (Set("source:parquet", "ingest:importance", "model:dsirWeights", "sink:corpus"),
          Set(drop -> "importance", "/w" -> "importance", "importance" -> "/c"), "/c"),
      MinhashIngestSpec(src, "id", "t", 0.7, "/c", "/s", "/k") ->
        (Set("source:parquet", "ingest:minhashDedup", "sink:corpus", "store:minhashSigs"),
          Set(drop -> "minhashDedup", "minhashDedup" -> "/c", "minhashDedup" -> "/s"), "/c"),
      SpanIngestSpec(src, "id", "t", 8, "/c", "/s", "/k") ->
        (Set("source:parquet", "ingest:spanDedup", "sink:corpus", "store:spanFps"),
          Set(drop -> "spanDedup", "spanDedup" -> "/c", "spanDedup" -> "/s"), "/c"),
      SemanticIngestSpec(src, "id", "v", cents, 0.9, "/c", "/s", "/k") ->
        (Set("source:parquet", "ingest:semanticDedup", "sink:corpus", "store:assignedVectors"),
          Set(drop -> "semanticDedup", "semanticDedup" -> "/c", "semanticDedup" -> "/s"), "/c"),
      VectorIndexIngestSpec(src, "id", "v", "/idx", "/k") ->
        (Set("source:parquet", "ingest:vectorIndex", "store:ivfIndex"),
          Set(drop -> "vectorIndex", "vectorIndex" -> "/idx"), "/idx"))
    kinds.foreach { case (spec, want) => assert(exported(spec) == want, spec.toString) }
  }

  test("each kind's plan derives its sink order, maintenance and primary sink") {
    import graft.streaming.{DistinctOn, FoldDelta}
    // every field that picks a column or a directory differs from the
    // store keys ("id", "fp"), so a swapped key cannot pass
    val kinds = Seq(
      QualityIngestSpec(src, "t", Seq(1.0), "/c", "/k") ->
        (Seq("/c"), Nil, "/c", Some("t")),
      ImportanceIngestSpec(src, "doc", "t", "/w", -3.0, "/c", "/k") ->
        (Seq("/c"), Nil, "/c", Some("t")),
      MinhashIngestSpec(src, "doc", "t", 0.7, "/c", "/s", "/k", compactEvery = 2) ->
        (Seq("/c", "/s"), Seq("/c" -> DistinctOn("doc"), "/s" -> DistinctOn("id")), "/c", Some("t")),
      // the rebuild corpus recovers by max-n_kept, not keyed distinct:
      // only the fp store is maintained
      SpanIngestSpec(src, "doc", "t", 8, "/c", "/s", "/k", compactEvery = 2) ->
        (Seq("/c", "/s"), Seq("/s" -> DistinctOn("fp")), "/c", Some("text_out")),
      SemanticIngestSpec(src, "doc", "v", cents, 0.9, "/c", "/s", "/k", compactEvery = 2) ->
        (Seq("/c", "/s"), Seq("/c" -> DistinctOn("doc"), "/s" -> DistinctOn("id")), "/c", None),
      VectorIndexIngestSpec(src, "doc", "v", "/idx", "/k", compactEvery = 2) ->
        (Seq("/idx"), Seq("/idx/cells" -> FoldDelta("/idx")), "/idx/cells", None),
      // the semantic store is appended LAST, so its crash replay is a no-op
      PretrainIngestSpec(src, "doc", "t", "v", Seq(1.0), cents, 0.9, 16, "/c", "/sem",
          "/span", "/k", dsirWeightsDir = Some("/w"), compactEvery = 2) ->
        (Seq("/c", "/span", "/sem"),
          Seq("/c" -> DistinctOn("doc"), "/span" -> DistinctOn("fp"), "/sem" -> DistinctOn("id")),
          "/c", Some("t")))
    kinds.foreach { case (spec, (sinks, maintenance, primary, textCol)) =>
      val p = spec.plan
      assert(p.sinks == sinks, spec.toString)
      assert(p.maintenance == maintenance, spec.toString)
      assert(IngestCompiler.primarySink(spec) == primary, spec.toString)
      assert(p.corpusTextCol == textCol, spec.toString)
    }
    // no compaction configured, nothing maintained
    assert(MinhashIngestSpec(src, "doc", "t", 0.7, "/c", "/s", "/k").plan.maintenance.isEmpty)
  }

  test("a concurrent second invocation on one checkpoint fails fast naming the holder") {
    val root = java.nio.file.Files.createTempDirectory("lock_ingest").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    docs.limit(50).write.mode("overwrite").parquet(s"$root/drop")
    val spec = QualityIngestSpec(StreamSourceSpec("parquet", s"$root/drop"),
      "text", SparkEntry.qualityGateWeights, s"$root/corpus", s"$root/ckpt")
    // simulate the FIRST invoker still running: a fresh lock with live
    // heartbeat semantics (mtime = now)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/ckpt"))
    val lock = new org.apache.hadoop.fs.Path(s"$root/ckpt/graft_ingest.lock")
    val out = fs.create(lock, false)
    try out.write("pid=9999 host=other started=2026-01-01T00:00:00Z".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      IngestCompiler.runAvailable(spark, spec, lockStaleMs = 600000L)
    }
    assert(e.getMessage.contains("locked by") && e.getMessage.contains("pid=9999"),
      e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/corpus")),
      "the rejected invocation must not have run the ingest")
    // the holder's lock is untouched by the rejected invoker
    assert(fs.exists(lock))
  }

  test("a crashed holder's STALE lock is reclaimed and the round proceeds") {
    val root = java.nio.file.Files.createTempDirectory("lock_stale").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    docs.limit(50).write.mode("overwrite").parquet(s"$root/drop")
    val spec = QualityIngestSpec(StreamSourceSpec("parquet", s"$root/drop"),
      "text", SparkEntry.qualityGateWeights, s"$root/corpus", s"$root/ckpt")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/ckpt"))
    val lock = new org.apache.hadoop.fs.Path(s"$root/ckpt/graft_ingest.lock")
    val out = fs.create(lock, false)
    try out.write("pid=1 host=dead started=2026-01-01T00:00:00Z".getBytes("UTF-8"))
    finally out.close()
    // kill -9 semantics: the holder died without deleting; its last
    // heartbeat is far older than the staleness bound
    fs.setTimes(lock, System.currentTimeMillis() - 3600_000L, -1)
    IngestCompiler.runAvailable(spark, spec, lockStaleMs = 600000L)
    assert(spark.read.parquet(s"$root/corpus").count() > 0,
      "stale-lock round must reclaim and ingest")
    assert(!fs.exists(lock), "the reclaiming round must release its own lock")
    // and the lock releases even when the round FAILS (source dir removed
    // out from under a later round → start throws; the lock must not leak)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/drop"))
      .iterator().asScala.toList.foreach(java.nio.file.Files.delete)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/drop"))
    intercept[Exception] {
      IngestCompiler.runAvailable(spark,
        spec.copy(source = StreamSourceSpec("parquet", s"$root/gone"),
          checkpointDir = s"$root/ckpt2"), lockStaleMs = 600000L)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/ckpt2/graft_ingest.lock")),
      "a failed round must still release the lock")
  }

  test("spec-driven quality ingest == programmatic batch accept set (dispatch arm)") {
    val root = java.nio.file.Files.createTempDirectory("q_ingest").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(s"$root/drop")
    val spec = QualityIngestSpec(StreamSourceSpec("parquet", s"$root/drop"),
      "text", SparkEntry.qualityGateWeights, s"$root/corpus", s"$root/ckpt")
    IngestCompiler.runAvailable(spark, spec)
    // restart round over the odd half
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(s"$root/drop")
    IngestCompiler.runAvailable(spark, spec)
    val got = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val want = graft.operators.QualityModel
      .score(docs, "text", SparkEntry.qualityGateWeights)
      .filter(col("quality_accept") === 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == want)
  }
}
