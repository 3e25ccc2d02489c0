package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Dsir, IngestPlan, Minhash, Quality, Semantic, Span, Streams}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  /** The pretrain kind's stage list ([[graft.plans.PretrainIngestSpec]]'s
    * plan) under the gate's quality weights, with its sinks under `dir`.
    */
  private def pretrainPlan(dir: String, cents: Seq[(Int, Seq[Float])],
                           dsir: Option[Dsir] = None, compactEvery: Int = 0,
                           maxDocChars: Int = 0): IngestPlan =
    IngestPlan("doc_id", "text", "embedding",
      Seq(Quality(SparkEntry.qualityGateWeights)) ++ dsir ++
        Seq(Semantic(s"$dir/sem", cents, 0.95), Span(s"$dir/span", 4, joinBack = true)),
      Some(s"$dir/corpus"), s"$dir/ckpt", compactEvery, maxDocChars)

  test("streaming tumbling agg (complete mode) matches the batch result") {
    val events = Tables(spark, sf, "events")
    val batch = events.groupBy(window(col("ts"), "1 hour")).count()
      .select(col("window.start").as("ws"), col("count"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val stage = java.nio.file.Files.createTempDirectory("stream").toString
    val streamed = Streams.runAsStream(spark, events, s"$stage/in", "t_complete", "ts", "1 minute") {
      df => df.groupBy(window(col("ts"), "1 hour")).count()
    }.select(col("window.start").as("ws"), col("count"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("append mode + watermark emits only closed windows (real streaming semantics)") {
    val events = Tables(spark, sf, "events")
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val stage = java.nio.file.Files.createTempDirectory("stream2").toString
    val appended = Streams.runAsStream(spark, events, s"$stage/in", "t_append", "ts",
      "10 minutes", outputMode = "append") { df =>
      df.groupBy(window(col("ts"), "1 hour")).count()
    }
    // windows whose end is beyond watermark (maxTs - 10min) must be withheld
    val lastEmitted = appended.agg(max(col("window.end"))).head().getTimestamp(0)
    assert(lastEmitted.getTime <= maxTs.getTime,
      s"append mode leaked an unclosed window: $lastEmitted > $maxTs")
    assert(appended.count() > 0)
  }

  test("stream-stream interval join matches the batch interval join") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val views = Seq((1L, at(0), 100L), (1L, at(120), 101L), (2L, at(30), 102L))
      .toDF("user_id", "view_ts", "view_id")
    val buys = Seq((1L, at(30), 200L), (2L, at(45), 201L), (2L, at(200), 202L))
      .toDF("user_id", "buy_ts", "buy_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("view_id", "buy_id").as[(Long, Long)].collect().toSet
    val batch = pairs(Streams.intervalJoin(views, buys, "user_id", "view_ts", "buy_ts", 3600))
    assert(batch == Set((100L, 200L), (102L, 201L))) // 202 is >1h after both of user 2's views
    val stage = java.nio.file.Files.createTempDirectory("sjoin").toString
    val streamed = pairs(Streams.runAsStreamPair(spark, views, buys, stage,
      "t_sjoin", ("view_ts", "1 minute"), ("buy_ts", "1 minute")) { (l, r) =>
      Streams.intervalJoin(l, r, "user_id", "view_ts", "buy_ts", 3600)
    })
    assert(streamed == batch)
  }

  test("sessionize: gap strictly greater than threshold starts a new session") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq(
      (1L, at(0)), (1L, at(100)),        // session 1
      (1L, at(2000)),                    // gap 1900s > 1800 → session 2
      (1L, at(3800)),                    // gap 1800s, NOT > 1800 → still session 2
      (2L, at(0))).toDF("user_id", "ts")
    val out = Streams.sessionize(df, "user_id", "ts", 1800)
      .groupBy("user_id").agg(max("session_seq").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L))
  }

  test("ingestDedup: later micro-batches dedup against earlier batches' store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dedup").toString
    val (corpus, store, ckpt) = (s"$dir/corpus", s"$dir/store", s"$dir/ckpt")
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text"),
      IngestPlan("doc_id", "text", "", Seq(Minhash(store, 0.7)), Some(corpus), ckpt))
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog again and again today"),
                 (2L, "completely different content describing catalyst optimizer internals"))
      q.processAllAvailable()
      // batch 2: a dup of doc 1 (cross-batch), a fresh doc, and in-batch twins
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again today"),
        (11L, "a genuinely novel document with fresh unseen vocabulary entirely"),
        (12L, "twin text shared by exactly two new documents in this same batch"),
        (13L, "twin text shared by exactly two new documents in this same batch"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 11L, 12L), s"got $kept")
    // the store carries one signature per surviving doc
    val sigIds = spark.read.parquet(store).select("id").as[Long].collect().toSet
    assert(sigIds == kept)
  }

  test("ingestImportanceFiltered: batch boundaries don't change a doc's verdict") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{CorpusStats, Sampling}
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_dsir").toString
    val (corpus, wDir, ckpt) = (s"$dir/corpus", s"$dir/weights", s"$dir/ckpt")
    // pinned model: target = spark-ish vocab, background = both vocabs
    val target = Seq("spark shuffle broadcast", "spark partition shuffle")
    val noise = Seq("lorem ipsum dolor amet", "ipsum dolor lorem sit")
    CorpusStats.importanceWeights(
        CorpusStats.hashedGramCounts(target.toDF("text"), "text"),
        CorpusStats.hashedGramCounts((target ++ noise).toDF("text"), "text"))
      .write.parquet(wDir)
    val docs = Seq(
      (1L, "spark shuffle broadcast partition"), (2L, "lorem ipsum dolor sit"),
      (3L, "spark broadcast shuffle"), (4L, "dolor amet ipsum lorem"),
      (5L, "   ")) // gram-less: dropped like the batch operator
    // threshold from the batch score distribution: strictly between the
    // target-ish and noise-ish scores, so the verdict set is unambiguous
    val batchScores = Sampling.importanceScores(docs.toDF("doc_id", "text"),
        "doc_id", "text", spark.read.parquet(wDir))
      .as[(Long, Double)].collect().toMap
    val minLogw = (batchScores(1L).min(batchScores(3L)) +
      batchScores(2L).max(batchScores(4L))) / 2
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text"),
      IngestPlan("doc_id", "text", "", Seq(Dsir(wDir, minLogw, hexLen = 4)), Some(corpus), ckpt))
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"got $kept")
    // the streaming verdict equals the batch-mode verdict at the threshold
    assert(kept == batchScores.filter(_._2 >= minLogw).keySet)
  }

  test("ingestSemanticDedup: later batches drop semantic dups of earlier batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_sem").toString
    val (corpus, store, ckpt) = (s"$dir/corpus", s"$dir/store", s"$dir/ckpt")
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingest(in.toDF().toDF("vec_id", "embedding"),
      IngestPlan("vec_id", "", "embedding", Seq(Semantic(store, cents, 0.95)), Some(corpus), ckpt))
    try {
      in.addData((1L, Seq(10f, 0f)), (2L, Seq(0f, 5f)))
      q.processAllAvailable()
      // batch 2: a scaled twin of vec 1 (cross-batch dup), a novel
      // direction, and an in-batch twin pair of that novel direction
      in.addData((10L, Seq(20f, 0f)), (11L, Seq(4f, 4.1f)), (12L, Seq(8f, 8.2f)))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 11L), s"got $kept")
    // the store carries the assigned form of exactly the survivors
    val assigned = spark.read.parquet(store).select("id").as[Long].collect().toSet
    assert(assigned == kept)
  }

  test("ingestSpanDedup: cross-batch boilerplate windows keep only their first occurrence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_spans").toString
    val (corpus, store, ckpt) = (s"$dir/corpus", s"$dir/store", s"$dir/ckpt")
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text"),
      IngestPlan("doc_id", "text", "", Seq(Span(store, 4, joinBack = false)), Some(corpus), ckpt))
    try {
      in.addData((1L, "sign up for our newsletter"
        .split(" ").padTo(4, "x").take(4).mkString(" ") + " real content one two"))
      q.processAllAvailable()
      // batch 2 repeats batch 1's leading 4-token block (the boilerplate)
      in.addData((2L, "sign up for our fresh tail words here"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(corpus).orderBy("id")
      .select("id", "text_out").as[(Long, String)].collect().toSeq
    assert(rows.head == (1L -> "sign up for our real content one two"))
    // doc 2's first window ("sign up for our") was ingested in batch 1
    assert(rows(1) == (2L -> "fresh tail words here"), s"got ${rows(1)}")
  }

  test("ingestSpanDedup crash-replay: documented recovery restores exact content; compactStore node repairs the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_crash").toString
    val (corpus, store, ckpt) = (s"$dir/corpus", s"$dir/store", s"$dir/ckpt")
    val in = MemoryStream[(Long, String)]
    val plan = IngestPlan("doc_id", "text", "", Seq(Span(store, 4, joinBack = false)),
      Some(corpus), ckpt)
    // query 1 crashes in the documented window: AFTER the corpus append,
    // BEFORE the fp-store append — but only when armed (batch 2)
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = Streams.ingest(in.toDF().toDF("doc_id", "text"), plan,
      afterAppend = d =>
        if (d == corpus && crash.get) throw new RuntimeException("injected crash between sink appends"))
    try {
      in.addData((1L, "sign up for our real content one two"))
      q1.processAllAvailable()
      crash.set(true)
      in.addData((2L, "sign up for our fresh tail words here"),
                 (3L, "sign up for our fresh tail words here")) // in-batch twin
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    // the crash left the sinks divergent: batch 2's docs are in the corpus,
    // its fingerprints are NOT in the store
    val afterCrash = spark.read.parquet(corpus).select("id").as[Long].collect()
    assert(afterCrash.count(_ == 2L) == 1 && spark.read.parquet(store).count() == 2)
    // restart with the same checkpoint: the uncommitted batch REPLAYS
    // (foreachBatch is at-least-once), re-dedups against the fp-less store
    // and appends the same rebuilt rows again
    crash.set(false)
    val q2 = Streams.ingest(in.toDF().toDF("doc_id", "text"), plan)
    try q2.processAllAvailable() finally q2.stop()
    val raw = spark.read.parquet(corpus)
      .select("id", "text_out").as[(Long, String)].collect().toSeq
    assert(raw.count(_._1 == 2L) == 2, s"replay should duplicate doc 2: $raw")
    assert(raw.filter(_._1 == 2L).distinct.size == 1, "window-1 twins must be identical")
    // crash window 2: batch 3 completes BOTH appends, then dies before the
    // checkpoint commits the offset — the replay sees the batch's OWN fps
    // and appends an EMPTIED rebuild next to the true row
    val crash2 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q3 = Streams.ingest(in.toDF().toDF("doc_id", "text"), plan,
      afterAppend = d =>
        if (d == store && crash2.get) throw new RuntimeException("injected crash before commit"))
    try {
      in.addData((4L, "brand new content for batch three xyz"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally q3.stop()
    crash2.set(false)
    val q4 = Streams.ingest(in.toDF().toDF("doc_id", "text"), plan)
    try q4.processAllAvailable() finally q4.stop()
    // the fp store SELF-HEALS on replay (fresh fps are anti-joined against
    // the store, so the replay re-appends none)
    val fps = spark.read.parquet(store).as[String].collect()
    assert(fps.length == fps.distinct.length, s"replay duplicated fps: ${fps.length}")
    // window 2's corpus state: the true row AND an emptied replay row
    val doc4 = spark.read.parquet(corpus).filter(col("id") === 4L)
      .select("text_out").as[String].collect().sorted.toSeq
    assert(doc4 == Seq("", "brand new content for batch three xyz"), s"got $doc4")
    // the ONE documented recovery rule — per id keep the MAX-n_kept row —
    // restores exact crash-free content through BOTH windows
    val recovered = spark.read.parquet(corpus)
      .groupBy("id").agg(max_by(col("text_out"), col("n_kept")).as("text_out"))
      .select("id", "text_out").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(recovered == Seq(
      1L -> "sign up for our real content one two",
      2L -> "fresh tail words here",
      3L -> "",
      4L -> "brand new content for batch three xyz"), s"got $recovered")
    // duplicate store keys arise OPERATIONALLY (a re-run bootstrap append):
    // drive that state, then repair it with the CompactStoreSpec node
    // through a JSON-persisted spec — the production maintenance path
    graft.operators.Dedup.spanFingerprints(
        Seq((1L, "sign up for our real content one two")).toDF("doc_id", "text"),
        "doc_id", "text", k = 4)
      .write.mode("append").parquet(store)
    val dup = spark.read.parquet(store).as[String].collect()
    assert(dup.length > dup.distinct.length, "bootstrap overlap should duplicate fps")
    val spec = graft.plans.PipelineSpec(nodes = Seq(
      "compacted" -> graft.plans.CompactStoreSpec(store, Seq("fp"))), out = "compacted")
    val out = graft.plans.PipelineCompiler.compile(
      graft.plans.SpecJson.fromJson(graft.plans.SpecJson.toJson(spec)), spark)
    assert(out.as[String].collect().sorted.toSeq == dup.distinct.sorted.toSeq)
    // the store DIRECTORY itself is rewritten: rows == distinct fps
    val after = spark.read.parquet(store).as[String].collect()
    assert(after.length == dup.distinct.length && after.sorted.toSeq == dup.distinct.sorted.toSeq,
      s"store not compacted: ${after.length} rows vs ${dup.distinct.length} distinct")
  }

  test("ingestQualityFiltered: batch boundaries don't change a doc's verdict") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.QualityModel
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_q").toString
    val (corpus, ckpt) = (s"$dir/corpus", s"$dir/ckpt")
    val w = SparkEntry.qualityGateWeights
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog slept in the warm sun for hours today"),
      (2L, "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz"),
      (3L, "a reasonable sentence about the weather and the plans for the weekend trip"),
      (4L, "!!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@"),
      (5L, ""))
    // batch-mode verdicts under the pinned gate weights are the reference
    val batchVerdicts = QualityModel.score(docs.toDF("doc_id", "text"), "text", w)
      .select("doc_id", "quality_accept").as[(Long, Long)].collect().toMap
    // the fixture must exercise both branches, or the test proves nothing
    assert(batchVerdicts.values.toSet == Set(0L, 1L), s"degenerate fixture: $batchVerdicts")
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text"),
      IngestPlan("", "text", "", Seq(Quality(w)), Some(corpus), ckpt))
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept == batchVerdicts.filter(_._2 == 1L).keySet, s"got $kept")
    // survivors carry the scaled-integer score for downstream re-thresholding
    val cols = spark.read.parquet(corpus).columns.toSet
    assert(cols.contains("quality_score_1e6") && cols.contains("quality_accept"))
  }

  test("a stage list no ingest kind offers, [Quality, Minhash], equals its batch composition") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Dedup, QualityModel}
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_compose").toString
    val (corpus, store) = (s"$dir/corpus", s"$dir/store")
    val w = SparkEntry.qualityGateWeights
    val passText = "the cat sat on the mat and the dog slept in the warm sun for hours today"
    val rugText = "the cat sat on a spotted rug by the fire late last night"
    val batches = Seq(
      Seq(1L -> passText, 2L -> "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz",
        3L -> "a reasonable sentence about the weather and the plans for the weekend trip"),
      // a cross-batch twin of doc 1, an in-batch twin pair, a quality reject
      Seq(10L -> passText, 11L -> rugText, 12L -> rugText,
        13L -> "yyy yyy yyy yyy yyy yyy yyy yyy yyy yyy yyy yyy"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text"),
      IngestPlan("doc_id", "text", "", Seq(Quality(w), Minhash(store, 0.7)), Some(corpus),
        s"$dir/ckpt"))
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() } finally q.stop()
    // the batch composition: quality accept, then each batch deduped
    // against the signatures of the earlier batches' survivors
    val expected = graft.exec.Scope.withCacheScope {
      val (kept, _) = batches.foldLeft((Seq.empty[org.apache.spark.sql.Row], Option.empty[
          org.apache.spark.sql.DataFrame])) { case ((acc, prior), b) =>
        val accepted = QualityModel.score(b.toDF("doc_id", "text"), "text", w)
          .filter(col("quality_accept") === 1)
        val storeSigs = prior.getOrElse(Dedup.minhashSignatures(accepted.limit(0), "doc_id", "text"))
        val k = Dedup.incrementalDedup(accepted, storeSigs, "doc_id", "text", threshold = 0.7)
          .localCheckpoint()
        val sigs = Dedup.minhashSignatures(k, "doc_id", "text")
        (acc ++ k.collect(), Some(prior.fold(sigs)(_.unionByName(sigs))))
      }
      kept.toSet
    }
    // the fixture exercises both stages: quality drops 2 and 13, the
    // minhash store drops 10, the in-batch pair keeps 11
    assert(expected.map(_.getAs[Long]("doc_id")) == Set(1L, 3L, 11L), s"got $expected")
    val out = spark.read.parquet(corpus)
    assert(out.columns.toSeq == Seq("doc_id", "text", "quality_score_1e6", "quality_accept"),
      out.columns.toSeq.toString)
    assert(out.collect().toSet == expected)
    assert(spark.read.parquet(store).select("id").as[Long].collect().toSet == Set(1L, 3L, 11L))
  }

  test("ingestPretrainCorpus: quality gate, semantic store, and span store compose in one ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_v3").toString
    val (corpus, semStore, spanStore) = (s"$dir/corpus", s"$dir/sem", s"$dir/span")
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val w = SparkEntry.qualityGateWeights
    val passText = "the cat sat on the mat and the dog slept in the warm sun for hours today"
    val noiseText = "lorem ipsum and the dolor sit for amet the consectetur of elit and more of it here"
    // pinned DSIR model: target = the cat-domain vocabulary; the noise doc
    // passes the QUALITY gate (asserted — else the fixture is degenerate)
    // but scores below the importance threshold
    import graft.operators.{CorpusStats, QualityModel, Sampling}
    val wDir = s"$dir/weights"
    CorpusStats.importanceWeights(
        CorpusStats.hashedGramCounts(Seq(passText).toDF("text"), "text"),
        CorpusStats.hashedGramCounts(Seq(passText, noiseText).toDF("text"), "text"))
      .write.parquet(wDir)
    val keepTexts = Seq(
      1L -> passText,
      10L -> "a reasonable sentence about the weather and the plans for the weekend trip",
      11L -> "the cat sat on a spotted rug by the fire late last night")
    val qv = QualityModel.score((keepTexts :+ (12L -> noiseText)).toDF("doc_id", "text"),
      "text", w).select("doc_id", "quality_accept").as[(Long, Long)].collect().toMap
    assert(qv.values.forall(_ == 1L), s"fixture must pass the quality gate: $qv")
    // threshold strictly between the noise doc and EVERY doc the later
    // tiers are supposed to see — the DSIR gate rejects exactly doc 12
    val scores = Sampling.importanceScores(
        (keepTexts :+ (12L -> noiseText)).toDF("doc_id", "text"),
        "doc_id", "text", spark.read.parquet(wDir))
      .as[(Long, Double)].collect().toMap
    val keepMin = keepTexts.map(kv => scores(kv._1)).min
    assert(scores(12L) < keepMin, s"degenerate DSIR fixture: $scores")
    val minLogw = (scores(12L) + keepMin) / 2
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"),
      pretrainPlan(dir, cents, dsir = Some(Dsir(wDir, minLogw, hexLen = 4))))
    try {
      in.addData(
        (1L, passText, Seq(10f, 0f)),                                // keeps everything
        (2L, "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz", Seq(0f, 5f))) // quality-reject
      q.processAllAvailable()
      in.addData(
        // passes quality but is an exact-direction semantic twin of doc 1
        (10L, "a reasonable sentence about the weather and the plans for the weekend trip", Seq(20f, 0f)),
        // novel direction; its FIRST 4-token window repeats doc 1's -> span-dropped
        (11L, "the cat sat on a spotted rug by the fire late last night", Seq(0f, 7f)),
        // passes quality, novel direction — rejected by the DSIR gate
        (12L, noiseText, Seq(-5f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(corpus)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L, 11L), s"got ${rows.keySet}")
    assert(rows(1L) == passText)
    assert(rows(11L) == "a spotted rug by the fire late last night", rows(11L))
    // quality columns ride into the corpus; the embedding column does NOT
    // (it lives in the semantic store's assigned form)
    val cols = spark.read.parquet(corpus).columns.toSet
    assert(cols.contains("quality_score_1e6") && !cols.contains("embedding"))
    // semantic store: assigned survivors only
    assert(spark.read.parquet(semStore).select("id").as[Long].collect().toSet == Set(1L, 11L))
    // span store: doc 1's 5 windows + doc 11's 3 fresh ones (its repeated
    // leading window is a store hit, never re-appended); doc 10 was dropped
    // before the span tier so none of its windows registered
    val fps = spark.read.parquet(spanStore).as[String].collect()
    assert(fps.length == 8 && fps.distinct.length == 8, s"got ${fps.length} fps")
  }

  test("ingestPretrainCorpus scheduled compaction purges crash-replay twins and bounds the stores") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_compact").toString
    val (corpus, semStore, spanStore) = (s"$dir/corpus", s"$dir/sem", s"$dir/span")
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val in = MemoryStream[(Long, String, Seq[Float])]
    def start(afterAppend: String => Unit = _ => ()) =
      Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"),
        pretrainPlan(dir, cents, compactEvery = 1), afterAppend = afterAppend)
    // window-1 crash: the corpus append lands, the batch dies before the
    // span append — the compaction hook must NOT run on the failed attempt
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = start(afterAppend =
      d => if (d == corpus && crash.get) throw new RuntimeException("crash before span append"))
    try {
      in.addData((1L, "the cat sat on the mat and the dog slept in the warm sun for hours today", Seq(10f, 0f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    crash.set(false)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the replay appended a byte-identical corpus twin; the end-of-batch
      // compaction (keyed distinct) purged it without any manual
      // compactStore call — the r12 "store maintenance is manual" gap
      val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSeq
      assert(ids == Seq(1L), s"compaction should leave exactly the true row, got $ids")
      in.addData((2L, "a second novel document with entirely fresh words in it today for sure", Seq(0f, 7f)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    val fps = spark.read.parquet(spanStore).as[String].collect()
    assert(fps.length == fps.distinct.length, "span store must be keyed-distinct after compaction")
    assert(spark.read.parquet(semStore).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // bounded file counts: each compaction rewrites the sink in one
    // generation instead of accumulating per-batch part files
    def files(d: String) =
      Option(new java.io.File(d).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    assert(files(corpus) <= 64 && files(spanStore) <= 64 && files(semStore) <= 64)
  }

  test("ingestPretrainCorpus crash-replay: all three sink windows recover as documented") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_v3_crash").toString
    val (corpus, semStore, spanStore) = (s"$dir/corpus", s"$dir/sem", s"$dir/span")
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    lazy val in = MemoryStream[(Long, String, Seq[Float])]
    def start(afterAppend: String => Unit = _ => ()) =
      Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"), pretrainPlan(dir, cents),
        afterAppend = afterAppend)
    def corpusRows = spark.read.parquet(corpus)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toSeq
    // window 1: crash between the corpus append and the span-store append
    val crash1 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = start(afterAppend =
      d => if (d == corpus && crash1.get) throw new RuntimeException("crash before span append"))
    try {
      in.addData((1L, "the cat sat on the mat and the dog slept in the warm sun for hours today", Seq(10f, 0f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    crash1.set(false)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // replay appended byte-identical rows; keyed distinct restores exactly
    assert(corpusRows.count(_._1 == 1L) == 2, s"got $corpusRows")
    assert(corpusRows.distinct.size == 1, "window-1 twins must be identical")
    graft.store.Stores.compactStore(spark, corpus, Seq("doc_id"))
    assert(corpusRows == Seq((1L, 17L)), s"got $corpusRows")
    // window 2: crash between the span-store and semantic-store appends —
    // the replay sees every window in the span store, the rebuild empties,
    // and the n_kept > 0 corpus filter (batch v3's 'nonempty' semantics)
    // drops it: the replay appends NOTHING, the corpus stays exactly right
    val crash2 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q3 = start(afterAppend =
      d => if (d == spanStore && crash2.get) throw new RuntimeException("crash before sem append"))
    try {
      in.addData((2L, "the fresh words for the catalyst and the optimizer in the engine here today now", Seq(0f, 5f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally q3.stop()
    crash2.set(false)
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    val doc2 = corpusRows.filter(_._1 == 2L).map(_._2).sorted
    assert(doc2 == Seq(15L), s"expected the true row only (emptied replay filtered), got $doc2")
    val recovered = spark.read.parquet(corpus)
      .groupBy("doc_id").agg(max("n_kept").as("n_kept"))
      .as[(Long, Long)].collect().toMap
    assert(recovered == Map(1L -> 17L, 2L -> 15L), s"got $recovered")
    // window 3: crash after ALL appends, before the offset commits — the
    // semantic store's id anti-join makes the replay a no-op
    val nBefore = spark.read.parquet(corpus).count()
    val crash3 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q5 = start(afterAppend =
      d => if (d == semStore && crash3.get) throw new RuntimeException("crash before commit"))
    try {
      in.addData((3L, "a third novel document with its own words and nothing shared at all", Seq(-4f, 1f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q5.processAllAvailable()
      }
    } finally q5.stop()
    crash3.set(false)
    val q6 = start()
    try q6.processAllAvailable() finally q6.stop()
    assert(spark.read.parquet(corpus).count() == nBefore + 1, "window 3 must self-heal")
    assert(spark.read.parquet(semStore).select("id").as[Long].collect().toSeq.sorted
      == Seq(1L, 2L, 3L))
    val fps = spark.read.parquet(spanStore).as[String].collect()
    assert(fps.length == fps.distinct.length, "span store must never duplicate")
  }

  test("ingestSemanticDedup crash-replay: window 1 repairs via compactStore; window 2 self-heals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_sem_crash").toString
    val (corpus, store, ckpt) = (s"$dir/corpus", s"$dir/store", s"$dir/ckpt")
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    def start(afterAppend: String => Unit = _ => ()) =
      Streams.ingest(in.toDF().toDF("vec_id", "embedding"),
        IngestPlan("vec_id", "", "embedding", Seq(Semantic(store, cents, 0.95)), Some(corpus), ckpt),
        afterAppend = afterAppend)
    lazy val in = MemoryStream[(Long, Seq[Float])]
    // crash window 1: AFTER the corpus append, BEFORE the store append
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = start(afterAppend =
      d => if (d == corpus && crash.get) throw new RuntimeException("injected crash between sink appends"))
    try {
      in.addData((1L, Seq(10f, 0f)), (2L, Seq(0f, 5f)))
      q1.processAllAvailable()
      crash.set(true)
      // a novel direction plus its in-batch twin: survivor = 11
      in.addData((11L, Seq(4f, 4.1f)), (12L, Seq(8f, 8.2f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    // divergent sinks: batch 2's survivor is in the corpus, not the store
    assert(spark.read.parquet(corpus).filter(col("vec_id") === 11L).count() == 1)
    assert(spark.read.parquet(store).select("id").as[Long].collect().toSet == Set(1L, 2L))
    // restart with the same checkpoint: the replay re-drops against the
    // vector-less store and appends BYTE-IDENTICAL survivor rows again
    crash.set(false)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val afterReplay = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSeq
    assert(afterReplay.count(_ == 11L) == 2, s"replay should duplicate vec 11: $afterReplay")
    // the store self-healed on replay (survivor assigned + appended once)
    val storeIds = spark.read.parquet(store).select("id").as[Long].collect().toSeq
    assert(storeIds.sorted == Seq(1L, 2L, 11L), s"got $storeIds")
    // the documented recovery — keyed distinct via the compactStore
    // maintenance op — restores exact crash-free corpus content
    graft.store.Stores.compactStore(spark, corpus, Seq("vec_id"))
    val recovered = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSeq
    assert(recovered.sorted == Seq(1L, 2L, 11L), s"got $recovered")
    // crash window 2: both appends complete, the offset never commits —
    // the replay sees the batch's own vectors in the store, every vector
    // is its own exact twin, the store wins, and NOTHING re-appends
    val crash2 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q3 = start(afterAppend =
      d => if (d == store && crash2.get) throw new RuntimeException("injected crash before commit"))
    try {
      in.addData((20L, Seq(-3f, 4f)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally q3.stop()
    crash2.set(false)
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    // full self-heal: single copies everywhere, no recovery step needed
    val corpusIds = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSeq
    assert(corpusIds.sorted == Seq(1L, 2L, 11L, 20L), s"got $corpusIds")
    val storeIds2 = spark.read.parquet(store).select("id").as[Long].collect().toSeq
    assert(storeIds2.sorted == Seq(1L, 2L, 11L, 20L), s"got $storeIds2")
  }

  test("ingestPretrainCorpus maxDocChars clamps hostile docs before any text kernel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_clamp").toString
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val passText = "the cat sat on the mat and the dog slept in the warm sun for hours today"
    val prose2 = "a quiet brown fox walked over the wooden bridge while morning light " +
      "touched the river and small birds sang from the tall trees near the old stone " +
      "mill as children carried baskets of ripe apples toward the busy market square " +
      "where friendly vendors traded fresh bread warm cheese and sweet honey"
    // hostile tail: without the clamp this doc's span/shingle kernels chew
    // on 200k chars; the cap cuts the ENTIRE tail, leaving clean prose
    val hostile = prose2 + " " + ("z" * 200000)
    val cap = prose2.length
    // fixture guard: the CLAMPED text must pass the quality gate, so corpus
    // membership proves the pipeline scored the clamped form, not the raw one
    val clampedVerdict = graft.operators.QualityModel
      .score(Seq((2L, hostile.take(cap))).toDF("doc_id", "text"), "text",
        SparkEntry.qualityGateWeights)
      .select("quality_accept").as[Long].head()
    assert(clampedVerdict == 1L, "fixture: clamped hostile text must pass quality")
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"),
      pretrainPlan(dir, cents, maxDocChars = cap))
    try {
      in.addData((1L, passText, Seq(10f, 0f)), (2L, hostile, Seq(0f, 5f)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.keySet.contains(2L), s"clamped doc must flow through: ${rows.keySet}")
    assert(rows.values.forall(_.length <= cap), "every stored text is capped")
  }

  test("ingestPretrainCorpus: one micro-batch computes each intermediate once (job budget)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_jobs").toString
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val passText = "the cat sat on the mat and the dog slept in the warm sun for hours today"
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"), pretrainPlan(dir, cents))
    // every job the second micro-batch launches
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      in.addData((1L, passText, Seq(10f, 0f)),
        (2L, "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz", Seq(0f, 5f)))
      q.processAllAvailable()
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        // a store dup, a span-repeating novel doc and its in-batch twin:
        // the pair kernel, the connected-components probe and both span
        // outputs all run
        in.addData(
          (10L, "a reasonable sentence about the weather and the plans for the weekend trip", Seq(20f, 0f)),
          (11L, "the cat sat on a spotted rug by the fire late last night", Seq(0f, 7f)),
          (12L, "the cat sat on a spotted rug by the fire late last night", Seq(0f, 7.1f)))
        q.processAllAvailable()
        org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally q.stop()
    // the measured count: re-scoring `fresh` per reader, re-deriving the
    // pair flags by id joins or windowing the spans once per append each
    // push it over (61 jobs with all three); so do a schema-inference job
    // per store read and the distributed first-seen-wins rule on a pair
    // graph this small (38 jobs with both)
    assert(jobs.get <= 29, s"${jobs.get} jobs")
    val rows = spark.read.parquet(s"$dir/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> passText, 11L -> "a spotted rug by the fire late last night"),
      s"got $rows")
  }

  test("a long-lived session does not grow caches across pretrain, semantic and span micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_caches").toString
    val cents: Seq[(Int, Seq[Float])] = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
    val texts = Seq(
      "the cat sat on the mat and the dog slept in the warm sun for hours today",
      "a reasonable sentence about the weather and the plans for the weekend trip",
      "the cat sat on a spotted rug by the fire late last night")
    val pre = MemoryStream[(Long, String, Seq[Float])]
    val sem = MemoryStream[(Long, Seq[Float])]
    val span = MemoryStream[(Long, String)]
    // compared as id sets: the ContextCleaner may reclaim earlier tests'
    // relations meanwhile, which must not read as this test's growth
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (rdds0, registered0) = (persisted, graft.exec.Scope.registeredCaches)
    val qs = Seq(
      Streams.ingest(pre.toDF().toDF("doc_id", "text", "embedding"), pretrainPlan(s"$dir/p", cents)),
      Streams.ingest(sem.toDF().toDF("vec_id", "embedding"), IngestPlan("vec_id", "", "embedding",
        Seq(Semantic(s"$dir/s/store", cents, 0.95)), Some(s"$dir/s/corpus"), s"$dir/s/ckpt")),
      Streams.ingest(span.toDF().toDF("doc_id", "text"), IngestPlan("doc_id", "text", "",
        Seq(Span(s"$dir/w/store", 4, joinBack = false)), Some(s"$dir/w/corpus"), s"$dir/w/ckpt")))
    try {
      for (b <- 0 until 3) {
        // each batch repeats earlier windows and directions (store hits)
        // and carries an in-batch twin pair (delta-delta pairs)
        val ids = (0 until 3).map(i => 100L * b + i)
        val vec = (i: Int) => if (i == 0) Seq(10f + b, 0f) else Seq(0f, 5f + i + b)
        pre.addData(ids.indices.map(i => (ids(i), texts(i), vec(i))): _*)
        sem.addData(ids.indices.map(i => (ids(i), vec(i))): _*)
        span.addData(ids.indices.map(i => (ids(i), texts(i) + s" batch $b")): _*)
        qs.foreach(_.processAllAvailable())
      }
    } finally qs.foreach(_.stop())
    assert(spark.read.parquet(s"$dir/p/corpus").count() > 0 &&
      spark.read.parquet(s"$dir/s/corpus").count() > 0 &&
      spark.read.parquet(s"$dir/w/corpus").count() == 9, "every ingest must have run")
    assert(graft.exec.Scope.registeredCaches == registered0,
      "a micro-batch left a relation in the dedup cache registry")
    val grown = persisted.diff(rdds0)
    assert(grown.isEmpty, s"persistent RDDs left behind: $grown")
  }
}
