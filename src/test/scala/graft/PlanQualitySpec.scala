package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Locks in the physical-plan properties the engine's scale story depends
  * on (SCALING.md): broadcast joins for vocab enrich, scan-level pushdown,
  * TakeOrdered for sort+limit, map-side partial aggregation. A regression
  * here means a silent 10–100× cost at scale even though results stay
  * correct.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // shared by the shuffle-payload plan locks: does a type (transitively)
  // carry string data, and does an attribute carry a token/subword array?
  private def carriesText(dt: DataType): Boolean = dt match {
    case ArrayType(et, _)  => carriesText(et)
    case StructType(fs)    => fs.exists(f => carriesText(f.dataType))
    case MapType(k, v, _)  => carriesText(k) || carriesText(v)
    case StringType        => true
    case _                 => false
  }
  private def tokenBearing(a: org.apache.spark.sql.catalyst.expressions.Attribute): Boolean =
    a.dataType match { case at: ArrayType => carriesText(at); case _ => false }

  test("H1 vocab enrich joins by broadcast, not shuffle") {
    val p = plan("q_h1_joiner")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "vocab join degraded to SMJ")
  }

  test("H1 broadcast hint is size-gated: an over-threshold vocab is NOT forced") {
    // Shrink the session threshold to 1 byte so every vocab estimate exceeds
    // it — maybeBroadcast must then leave the strategy to Catalyst, and the
    // initial plan must not force a broadcast build of the "huge" side.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val part = spark.read.parquet(s"$sf/part.parquet")
      val p = graft.operators.Joins.enrich(li, part, li("l_partkey"), part("p_partkey"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"oversized vocab still forced to broadcast:\n${p.take(2000)}")
    } finally spark.conf.set(key, prev)
  }

  test("C4 reducer pushes the shipdate range filter into the parquet scan") {
    val p = plan("q_c4_reducer")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("C4 reducer prunes to only the referenced columns") {
    val p = plan("q_c4_reducer")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("C5 sort+limit collapses to TakeOrderedAndProject (no full sort)") {
    val p = plan("q_c5_sorter")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("C6 keep-first runs as one hash aggregation, not a window") {
    val p = plan("q_c6_uniquer")
    assert(!p.contains("Window"), "keep-first degraded to a window sort")
    assert(p.contains("min_by") || p.contains("HashAggregate"), p.take(1000))
  }

  test("aggregations are partial+final (map-side combine present)") {
    val p = plan("q_h1_joiner")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "no partial aggregation before the shuffle")
  }

  test("H2 detail scan reads only the projected detail columns") {
    val p = plan("q_h2_join_detail")
    val lineitemScan = p.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("lineitem")).getOrElse("")
    // detailCols projection: the 16-column lineitem row must NOT ride the
    // collect_list shuffle — only the key + the one consumed column
    assert(lineitemScan.contains("l_orderkey") && lineitemScan.contains("l_quantity"),
      lineitemScan)
    assert(!lineitemScan.contains("l_extendedprice") && !lineitemScan.contains("l_comment"),
      s"detail scan reads unprojected columns: $lineitemScan")
  }

  test("text stats tokenize once: split/lower/array_distinct appear once in the plan") {
    val p = plan("q_n_text_stats")
    def occurrences(op: String): Int = op.r.findAllIn(p).size
    assert(occurrences("split\\(") == 1, s"split x${occurrences("split\\(")} — tokenization re-runs per stat")
    assert(occurrences("lower\\(") == 1, s"lower x${occurrences("lower\\(")}")
    assert(occurrences("array_distinct\\(") == 1, s"array_distinct x${occurrences("array_distinct\\(")}")
  }

  test("quality gate: an accept filter never re-evaluates the feature pipeline (r17)") {
    // the at-scale shape: a shuffle-bearing input, so Dedup.spread inserts
    // no barrier — exactly the case where PushDownPredicates used to inline
    // the whole UNSTAGED feature pipeline into the accept predicate
    // (tools.QualityPushdownProbe: 32 lambdas / 24 splits in the Filter
    // condition, 6.6 → 23.3 s at 1M docs). OpaqueBarrier on the score alias
    // pins evaluation to once per row.
    val docs = spark.range(0, 200).toDF("doc_id").repartition(4)
      .withColumn("text", concat_ws(" ",
        lit("the quick brown fox jumps over the lazy dog and the cat"),
        col("doc_id").cast("string")))
    val scored = graft.operators.QualityModel
      .score(docs, "text", SparkEntry.qualityGateWeights)
    val passed = scored.filter(col("quality_accept") === 1)
    val conds = passed.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    assert(conds.nonEmpty)
    conds.foreach { c =>
      val s = c.toString
      assert(!s.contains("split("),
        s"feature pipeline inlined into a Filter condition: ${s.take(200)}")
      assert(!s.contains("lambdafunction"),
        s"higher-order function inlined into a Filter condition: ${s.take(200)}")
    }
    // staged evaluation intact: the tokenizer appears exactly once end to end
    val p = passed.queryExecution.executedPlan.toString
    val splits = "split\\(".r.findAllIn(p).size
    assert(splits == 1, s"tokenizer appears x$splits — staging broke")
    // the barrier is an identity: filtering equals summing the accept column
    val acceptSum = scored.agg(sum("quality_accept")).head().getLong(0)
    assert(passed.count() == acceptSum)
  }

  test("bucketed tables join with ZERO exchange") {
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val smjKey = "spark.sql.join.preferSortMergeJoin"
    val prev = spark.conf.get(key)
    val prevSmj = spark.conf.get(smjKey)
    try {
      spark.conf.set(key, "-1") // force SMJ so bucket co-location is observable
      // the session prefers shuffled-hash joins (GraftSession r16); pin the
      // forced-SMJ observation this test is about
      spark.conf.set(smjKey, "true")
      graft.sinks.Writers.bucketedTable(
        spark.read.parquet(s"$sf/orders.parquet"), "b_orders", "o_orderkey", 4)
      graft.sinks.Writers.bucketedTable(
        spark.read.parquet(s"$sf/lineitem.parquet")
          .select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 4)
      val j = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1500))
      // ZERO Exchange is the bucketing win (the recurring shuffle is gone);
      // Spark 3+ still inserts an in-partition Sort because bucket sort
      // metadata is ignored on read by default (SPARK-28595) — cheap on
      // sorted runs, and elidable via the legacy outputOrdering conf.
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n${p.take(2000)}")
    } finally {
      spark.conf.set(key, prev)
      spark.conf.set(smjKey, prevSmj)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("salted join equals the plain join and spreads the hot key") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 10k rows of ONE hot key + a small dim to replicate
    val hot = spark.range(10000).select(lit(7L).as("k"), col("id").as("v"))
    val dim = Seq((7L, "x"), (8L, "y")).toDF("dk", "name")
    val salted = graft.operators.Joins.saltedJoin(hot, dim, "k", "dk", salts = 8)
    val plain = hot.join(dim, col("k") === col("dk"))
    assert(salted.count() == 10000L && plain.count() == 10000L)
    assert(salted.agg(sum("v")).head.getLong(0) == plain.agg(sum("v")).head.getLong(0))
  }

  test("salted join rejects right/full outer (unmatched rows would fan out)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val l = Seq((1L, "a")).toDF("k", "v")
    val r = Seq((2L, "b")).toDF("dk", "w")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      intercept[IllegalArgumentException] {
        graft.operators.Joins.saltedJoin(l, r, "k", "dk", salts = 4, joinType = jt)
      }
    }
    // left outer stays supported and keeps unmatched LEFT rows exactly once
    val lo = graft.operators.Joins.saltedJoin(l, r, "k", "dk", salts = 4, joinType = "left")
    assert(lo.count() == 1L)
  }

  test("above the broadcast gate, an eligible join runs shuffled-HASH, not sort-merge (r16)") {
    // The r16 session prefers shuffled hash joins (optimization guide §3.1):
    // when a side is too big (or here, forbidden) to broadcast but its
    // post-shuffle partitions fit a local hash map, the join must build a
    // hash table on the small side instead of sorting BOTH sides. At 100 TB
    // this is the corpus⟕dup-ids anti-join band between the 64 MB broadcast
    // gate and per-partition build capacity; broadcast wins below it (the
    // composites' runtime plans stay BHJ — asserted elsewhere), SMJ remains
    // the graceful fallback above it.
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevB = spark.conf.get(bKey)
    try {
      spark.conf.set(bKey, "-1") // simulate "small side exceeds the broadcast gate"
      val corpus = spark.range(0, 200000).selectExpr("id AS doc_id", "id % 97 AS x")
      val dupIds = spark.range(0, 5000).selectExpr("id * 3 AS id")
      val kept = corpus.join(dupIds, corpus("doc_id") === dupIds("id"), "left_anti")
      // run THIS dataset's QueryExecution (a write would plan its own) so
      // AQE finalizes: the conversion is runtime — DynamicJoinSelection
      // sees the real post-shuffle partition sizes under
      // maxShuffledHashJoinLocalMapThreshold and hints SHUFFLE_HASH; the
      // static pick can't fire here because it keys off the (disabled)
      // broadcast threshold
      kept.collect()
      // judge the FINAL plan only — the printed string appends the initial
      // (pre-AQE) plan, which legitimately still says SortMergeJoin
      val p = kept.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("ShuffledHashJoin"),
        s"anti-join above the broadcast gate did not pick shuffled-hash:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"still sort-merge:\n${p.take(2000)}")
      assert(!p.contains("+- Sort"), s"hash join still sorting an input:\n${p.take(2000)}")
    } finally spark.conf.set(bKey, prevB)
  }

  test("SHJ preference is skew-safe: hot build key falls back to SMJ, hot stream key skew-splits (r17)") {
    // VERDICT r16 watch item on `preferSortMergeJoin=false`: a skewed key
    // above the broadcast gate must not overflow one partition's local hash
    // map. Two planted-hot-key cases pin the two safety valves:
    //   A. BUILD-side skew — AQE's DynamicJoinSelection only converts
    //      SMJ→SHJ when EVERY post-shuffle build partition fits
    //      maxShuffledHashJoinLocalMapThreshold, so a hot build partition
    //      REFUSES the conversion and the spill-graceful sort-merge runs;
    //   B. STREAM-side skew — OptimizeSkewedJoin splits the oversized
    //      stream partition (isSkewJoin=true on the final join node), which
    //      is legal for LeftAnti on the left side.
    // Together with the r16 uniform case (converts to SHJ) this covers the
    // dedup-drop anti-join band at 100 TB.
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join handling must be on in the session")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "102400",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    def finalJoins(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val out = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(r.child)
          case j: SortMergeJoinExec => out += (("smj", j.isSkewJoin))
          case j: ShuffledHashJoinExec => out += (("shj", j.isSkewJoin))
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan); out.toSeq
    }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // A: 99% of build rows share one hot key, and the build side carries
      // a per-row payload (the enrich-join shape — an anti join's build
      // side prunes to the key, whose repeated values compress below any
      // threshold in the map stats). The hot key is DATA-dependent (a
      // foldable literal key would let the optimizer rewrite the join into
      // a constant-predicate plan). One build partition ≈ 20k payload rows
      // > the 100 KB local-map gate; the rest stay tiny.
      val corpus = spark.range(0, 200000).selectExpr("id AS doc_id", "id % 1000 AS k")
      val hotVocab = spark.range(0, 20000)
        .selectExpr("CASE WHEN id % 100 = 99 THEN id % 7 + 1 ELSE 0 END AS k",
          "id AS payload")
      val joinedA = corpus.join(hotVocab, Seq("k"))
      // execute THIS dataset's QueryExecution so AQE finalizes before the
      // plan walk — toRdd-side foreach, no driver collect of the fan-out
      joinedA.foreach(_ => ())
      val joinsA = finalJoins(joinedA)
      assert(joinsA.nonEmpty && joinsA.forall(_._1 == "smj"),
        s"hot BUILD key must refuse the SHJ conversion (local-map overflow): $joinsA")
      // B: the STREAM side is skewed (95% of corpus rows on one key, fat
      // payload) while the build side stays uniform and small — the
      // conversion is safe, and the skew rule must SPLIT the hot stream
      // partition (legal for LeftAnti on the left side)
      // the payload must be DATA-dependent: a literal pad is constant-folded
      // and pulled above the join, leaving a 16-byte stream row whose hot
      // partition compresses below the skew threshold
      val skewCorpus = spark.range(0, 300000)
        .selectExpr("id AS doc_id", "CASE WHEN id % 20 = 0 THEN id % 1000 ELSE 0 END AS k",
          "md5(cast(id AS string)) AS pad")
      // the build side must reach the join as a PLAIN sorted shuffle stage:
      // OptimizeSkewedJoin pattern-matches SMJ over Sort(ShuffleQueryStage)
      // on both sides, so a post-shuffle aggregate (e.g. a distinct) on
      // either child disables skew handling for that join
      val dups = spark.range(0, 1000).selectExpr("id AS k")
      val keptB = skewCorpus.join(dups, Seq("k"), "left_anti")
      assert(keptB.collect().isEmpty) // every k in [0,1000) matches a dup id
      val joinsB = finalJoins(keptB)
      assert(joinsB.nonEmpty && joinsB.exists(_._2),
        s"hot STREAM key above the skew threshold did not skew-split: $joinsB")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("binned range join plans an equi-join, never a nested loop") {
    val p = plan("q_x_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n${p.take(2000)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the bin key:\n${p.take(2000)}")
    // and it agrees with the plain (nested-loop) formulation
    import graft.operators.Joins
    val pts = spark.range(0, 1000).selectExpr("id * 3 % 997 AS d", "id")
    val ivs = spark.range(0, 40).selectExpr("id * 25 AS lo", "id * 25 + 40 AS hi", "id AS iv")
    val binned = Joins.rangeJoin(pts, ivs, "d", "lo", "hi", binWidth = 32)
      .groupBy("iv").count().orderBy("iv").collect().toSeq
    val plain = pts.join(ivs, col("d") >= col("lo") && col("d") <= col("hi"))
      .groupBy("iv").count().orderBy("iv").collect().toSeq
    assert(binned == plain)
  }

  test("as-of join plans ONE shuffle, not a range-join fan-out") {
    val p = plan("q_x_asof")
    // union → single hash partition on the key → window carry-forward;
    // a key-equi join with a range predicate would fan every left row out
    // to all earlier right rows (quadratic per key) and plan a second join
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of degraded to a join:\n${p.take(1500)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 key shuffle, saw $exchanges:\n${p.take(2000)}")
  }

  test("hash split/sample are expression-only: zero shuffles, zero UDFs") {
    import graft.operators.Sampling
    val split = Sampling.hashSplit(spark.range(1000).toDF("id"), "id",
      Seq("train" -> 0.9, "test" -> 0.1))
    val sampled = Sampling.stratifiedSample(
      split, "id", "split", Map("train" -> 0.1), defaultRate = 1.0)
    val p = sampled.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython")
      && !p.contains("ScalaUDF"), p.take(1000))
  }

  test("sortedLayout: every output file covers a disjoint key range") {
    import graft.sinks.Writers
    val dir = java.nio.file.Files.createTempDirectory("sorted_layout").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    Writers.sortedLayout(orders, dir, Seq("o_orderkey"), partitions = 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .select("lo", "hi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(ranges.length > 1, "expected multiple range files")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: hi=$hi lo=$lo")
    case _ => }
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // local fixtures are far below the 10 GiB production default — drop the
      // size floors so the rule fires here; at scale the defaults gate it to
      // scans where the filter pays for itself
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 400000) // selective creation side
      val j = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n${p.take(1500)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("decontamination broadcasts the distinct bench grams; chunking is shuffle-free") {
    val p = plan("q_n_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram set not broadcast:\n${p.take(2000)}")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val chunkPlan = graft.operators.Packing
      .chunkDocs(docs, "doc_id", "text", chunkTokens = 64, stride = 32)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunkDocs must be a narrow explode:\n${chunkPlan.take(2000)}")
  }

  test("native kernels stay inside whole-stage codegen") {
    import graft.functions.{MinHashSig, ShingleHashes}
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(MinHashSig.minhashSig(
        ShingleHashes.shingleHashes(col("text"), 5), 32).as("sig"))
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    assert(p.linesIterator.exists(l => l.contains("Project") && l.trim.startsWith("*(")),
      p.take(1000))
  }

  test("span dedup: no Exchange carries token arrays (ids-only wide shuffles)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // AQE hides Exchange nodes inside an un-executed AdaptiveSparkPlanExec;
    // the property under test (WHICH columns ride each shuffle) is fixed
    // before AQE re-plans, so assert on the static plan
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val exchanges = try {
      spark.conf.set(aqe, "false")
      graft.operators.Dedup.dropRepeatedSpans(docs, "doc_id", "text", 16)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
    } finally spark.conf.set(aqe, prev)
    assert(exchanges.nonEmpty, "expected the fingerprint groupBy shuffle")
    // every shuffled attribute must be scalar (fp/id/start or the small
    // per-doc drop set) - a token array riding an Exchange means the rebuild
    // regressed to shuffling document payloads
    exchanges.foreach { e =>
      val arrayStringCols = e.child.output.filter(tokenBearing)
      assert(arrayStringCols.isEmpty,
        s"token array ${arrayStringCols.map(_.name)} rides a shuffle:\n$e")
    }
  }

  test("BPE encode -> packSequencesBy: subword arrays ride ONLY the shard repartition") {
    // the 8-stage flagship's tail (SparkEntry.qNLlmPipelineV2). The designed
    // shape is exactly THREE exchanges: (1) wordCounts' vocab agg — scalar
    // words only; (2) encode's per-doc assembly agg — word-level subwords
    // meet their document as COMPACT SERIALIZED collect_list buffers
    // (id + binary), never exploded arrays; (3) the pack's shard
    // repartition — the one exchange where doc-level subword arrays ride,
    // because co-locating streams with their shard is the floor for any
    // pack. A fourth exchange, or arrays on any other exchange (an orderBy,
    // the segmentation join degrading from broadcast to shuffle-join), is a
    // plan regression this test catches. Asserted on the static plan (AQE
    // off), like the span test above.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val exchanges = try {
      spark.conf.set(aqe, "false")
      val vocab = graft.functions.Bpe.wordCounts(docs, "text")
      val seg = graft.functions.Bpe.vocabSegmentation(vocab,
        Seq(("e", "r</w>"), ("t", "h"), ("th", "e</w>")))
      val packed = graft.operators.Packing.packSequencesBy(
        graft.functions.Bpe.encode(docs, "doc_id", "text", seg),
        "id", "subwords", budgetTokens = 512, shards = 16)
      packed.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    } finally spark.conf.set(aqe, prev)
    def describe = exchanges.map(e => e.outputPartitioning.toString + " || " +
      e.child.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      .mkString("\n")
    assert(exchanges.size == 3, s"expected exactly 3 exchanges in the tail:\n$describe")
    val arrayCarrying = exchanges.filter(_.child.output.exists(tokenBearing))
    assert(arrayCarrying.size == 1 &&
      arrayCarrying.head.outputPartitioning.toString.contains("shard"),
      s"subword arrays must ride ONLY the shard repartition:\n$describe")
    // the assembly agg ships buffers, not arrays: its exchange is id+binary
    assert(exchanges.exists(e =>
      e.child.output.map(_.dataType).toSet == Set(LongType, BinaryType)),
      s"encode assembly exchange should carry (id, serialized buffer):\n$describe")
  }

  test("fused packSequencesEncoded: token payloads cross exactly ONE exchange") {
    // the 8-stage flagship's actual tail since r11: shard = f(id), so
    // hash-partitioning the word stream by shard already co-locates every
    // row of a document — the per-doc assembly agg and the pack fold run on
    // that one partitioning with NO further exchange. Expected shuffles:
    // the scalar wordCounts agg (under the broadcast segmentation subtree)
    // and the ONE shard repartition carrying subword arrays.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val exchanges = try {
      spark.conf.set(aqe, "false")
      val vocab = graft.functions.Bpe.wordCounts(docs, "text")
      val seg = graft.functions.Bpe.vocabSegmentation(vocab,
        Seq(("e", "r</w>"), ("t", "h"), ("th", "e</w>")))
      graft.operators.Packing.packSequencesEncoded(
          docs, "doc_id", "text", seg, budgetTokens = 512, shards = 16)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
    } finally spark.conf.set(aqe, prev)
    def describe = exchanges.map(e => e.outputPartitioning.toString + " || " +
      e.child.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      .mkString("\n")
    assert(exchanges.size == 2, s"expected exactly 2 exchanges in the fused tail:\n$describe")
    val tokenCarrying = exchanges.filter(_.child.output.exists(tokenBearing))
    assert(tokenCarrying.size == 1 &&
      tokenCarrying.head.outputPartitioning.toString.contains("shard"),
      s"token payloads must cross exactly the shard repartition:\n$describe")
  }

  test("semantic assignment is one narrow pass: zero exchanges, argmax in the row") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Dedup.firstKCentroids(emb, "vec_id", "embedding", 4)
    val p = graft.operators.Dedup
      .assignSemanticClusters(emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
  }

  test("semantic pairs: vectors shuffle only on the cluster key; size prune broadcasts") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Dedup.firstKCentroids(emb, "vec_id", "embedding", 4)
    val aqe = "spark.sql.adaptive.enabled"
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val (prevAqe, prevAbt) = (spark.conf.get(aqe), spark.conf.get(abt))
    // threshold off = the at-scale planning regime: a corpus too big to
    // broadcast must self-join via the cluster-key shuffle, while the
    // explicit broadcast() hint on the k-row size prune still wins
    val plan = try {
      spark.conf.set(aqe, "false")
      spark.conf.set(abt, "-1")
      graft.operators.Dedup
        .semanticDedupPairs(emb, "vec_id", "embedding", cents, threshold = 0.8)
        .queryExecution.executedPlan
    } finally { spark.conf.set(aqe, prevAqe); spark.conf.set(abt, prevAbt) }
    // the operator materializes + caches its result, so the pair-join
    // stages live one level down, in the cached relation's physical plan
    val inner = plan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    }
    val s = (plan +: inner).mkString("\n")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"within-cluster expansion must stay an equi-join:\n$s")
    // the k-row cluster-size prune must reach the corpus as a broadcast semi
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"cluster-size prune should broadcast:\n$s")
    // every vector-bearing exchange of the pair stage is hash-partitioned on
    // the cluster key (the assignment input below it is a cache leaf, plan-
    // asserted narrow in the previous test)
    import org.apache.spark.sql.types.ArrayType
    val vecExchanges = (plan +: inner).flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
    })
    assert(vecExchanges.nonEmpty &&
      vecExchanges.forall(_.outputPartitioning.toString.contains("cluster")),
      s"vectors may ride only the cluster-key shuffle:\n${vecExchanges.mkString("\n")}")
  }

  test("corpus report: one scan, one tokenization, no token arrays in any exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // AQE wraps the tree in a leaf AdaptiveSparkPlanExec that collect()
    // cannot see through — pin it off for the structural asserts (the
    // DSIR-resample lock's convention)
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val plan = try {
      spark.conf.set(aqe, "false")
      graft.operators.CorpusStats.corpusReport(docs, "text", "lang")
        .queryExecution.executedPlan
    } finally spark.conf.set(aqe, prev)
    // ONE pass over the corpus: counts, chars, and the dedup fingerprint
    // all derive from a single per-document projection
    val scans = plan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
    assert(scans.size == 1, s"data card must cost one scan:\n$plan")
    // the shared tokenization evaluates once per doc
    val ps = plan.toString
    assert("array_distinct".r.findAllIn(ps).size <= 1,
      s"tokenization fan-out — the per-doc projection re-splits:\n$ps")
    // exchanges carry (group, fp, counts) scalars, never token arrays
    val tokenExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.output.exists(tokenBearing) => e
    }
    assert(tokenExchanges.isEmpty,
      s"token arrays ride a report exchange:\n${tokenExchanges.mkString("\n")}")
  }

  test("DSIR gate scans documents at most twice (single-scan conditional model)") {
    // the r11 gate built target and background counts with two separate
    // hashedGramCounts passes — three documents scans end-to-end; the
    // split-count model makes it model-scan + scoring-scan and no more
    val plan = SparkEntry.queries("q_n_dsir")(spark, sf).queryExecution.executedPlan
    val docScans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
    }
    assert(docScans.size <= 2,
      s"DSIR gate reads documents ${docScans.size}x — model build rescans the corpus:\n$plan")
  }

  test("DSIR resample: weights broadcast, one scalar shuffle, heap-based top-k, no payload shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the weights model is parquet-backed in production (≤ 16^hexLen rows,
    // persisted like the dedup stores) — cut the lineage the same way so
    // the plan under test is the selection pipeline, not the model build
    val wDir = java.nio.file.Files.createTempDirectory("dsir_w").toString + "/weights"
    graft.operators.CorpusStats.importanceWeights(
        graft.operators.CorpusStats.hashedGramCounts(docs.filter(col("lang") === "en"), "text"),
        graft.operators.CorpusStats.hashedGramCounts(docs, "text"))
      .write.parquet(wDir)
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val plan = try {
      spark.conf.set(aqe, "false")
      graft.operators.Sampling.importanceResample(
          docs, "doc_id", "text", spark.read.parquet(wDir), k = 50)
        .queryExecution.executedPlan
    } finally spark.conf.set(aqe, prev)
    val p = plan.toString
    // per-gram weight lookup and k-row id join-back are broadcasts
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p.take(3000))
    // selection is per-partition k-heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // the ONLY shuffle is the per-doc weight agg, and it carries scalars
    // (id + partial sum) — never gram strings or the document payload
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length == 1, s"expected exactly the id-agg shuffle:\n$p")
    val leaked = exchanges.head.child.output.filter(a => carriesText(a.dataType))
    assert(leaked.isEmpty, s"text rides the weight-agg shuffle: ${leaked.map(_.name)}")
  }

  test("flagship v3 composite: vectors cross only the semantic tier's exchanges; gram buckets never shuffle; DSIR top-k is heap-based") {
    // AQE off + broadcast threshold off = the at-scale planning regime: no
    // size-gated broadcast can hide a shuffle that would exist at 100 TB
    val aqe = "spark.sql.adaptive.enabled"
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val (prevAqe, prevAbt) = (spark.conf.get(aqe), spark.conf.get(abt))
    val plan = try {
      spark.conf.set(aqe, "false")
      spark.conf.set(abt, "-1")
      SparkEntry.queries("q_n_llm_pipeline_v3")(spark, sf)
        .queryExecution.executedPlan
    } finally { spark.conf.set(aqe, prevAqe); spark.conf.set(abt, prevAbt) }
    // the composite nests caches (train → cleaned → passed/qvecs):
    // InMemoryTableScan is a LEAF whose cached plan hangs off a field, and
    // since r16 the spec compiler backs each cache with a lineage-stubbed
    // LogicalRDD (the exponential-render fix), so the cached plan is an
    // RDDScanExec whose compiled segment plan hangs off Bridge.stubbedPlan
    // — walk both to a fixpoint. Node-type collects, not toString — the
    // full tree renders megabytes and the session's maxPlanStringLength
    // bound truncates it mid-plan.
    // identity-deduped (ADVICE r16): multiple scans referencing the same
    // cached/stubbed segment — the diamond shape — would otherwise duplicate
    // nested roots per level and make the walk exponential in diamond depth
    def allPlans(roots: Seq[org.apache.spark.sql.execution.SparkPlan]
                ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan,
          java.lang.Boolean]())
      def go(rs: Seq[org.apache.spark.sql.execution.SparkPlan]
            ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val fresh = rs.filter(seen.add)
        if (fresh.isEmpty) Nil
        else {
          val nested = fresh.flatMap(_.collect {
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              Seq(s.relation.cachedPlan)
            case r: org.apache.spark.sql.execution.RDDScanExec =>
              org.apache.spark.sql.graft.Bridge.stubbedPlan(r.rdd).toSeq
          }.flatten)
          fresh ++ go(nested)
        }
      }
      go(roots)
    }
    val all = allPlans(Seq(plan))
    // embeddings may ride exactly two exchange families, both inside the
    // vector-side subtree: the quality-prune semi join (vec_id — at scale a
    // bucketed embeddings layout makes this zero-shuffle, PlanQualitySpec's
    // bucketed-join test) and the within-cluster pair stage (cluster key).
    // No text-pipeline exchange (span/exact/decontam/DSIR/pack) may carry a
    // float-array column.
    def carriesVec(a: org.apache.spark.sql.catalyst.expressions.Attribute) =
      a.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      }
    val vecExchanges = all.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.output.exists(carriesVec) => e
    })
    assert(vecExchanges.nonEmpty, "expected the semantic tier's keyed exchanges in the plan")
    assert(vecExchanges.forall { e =>
      val p = e.outputPartitioning.toString
      p.contains("cluster") || p.contains("vec_id")
    }, s"vectors leaked into a text-stage exchange:\n${vecExchanges.mkString("\n")}")
    // the DSIR gram-weight model joins by broadcast only: a bucket column
    // crossing any exchange would mean the weights got shuffle-joined
    val bucketLeaks = all.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.output.exists(_.name == "bucket") => e
    })
    assert(bucketLeaks.isEmpty, s"gram buckets crossed a shuffle:\n${bucketLeaks.mkString("\n")}")
    // selection stays per-partition k-heaps inside the composite
    assert(all.exists(_.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty), "DSIR selection should plan as TakeOrderedAndProject")
    // and nothing in the composite degenerates to a cartesian expansion
    assert(all.forall(_.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty), "composite must stay equi-join end to end")
  }

  test("multi-read barrier: a join-bearing input is planned once, its upstream cache read <= 2x per segment") {
    import graft.plans._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    // every operator of one plan, through AQE wrappers; cache scans and
    // reused exchanges are leaves (neither re-plans its subtree here)
    def opsOf(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => opsOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => opsOf(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(opsOf)
    }
    def builderOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.asInstanceOf[InMemoryRelation].cacheBuilder
    def readsOf(cache: AnyRef, p: SparkPlan): Int = opsOf(p).count {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.eq(cache)
      case _ => false
    }
    PipelineCompiler.withCompiledCacheScope {
      // spanDedup -> dedup(exact) -> decontaminate over a semi-join of a
      // cached upstream: without barriers the segment holds 8 copies of
      // the join (span dedup reads its input 4x, decontamination 2x)
      val spec = PipelineSpec(nodes = Seq(
        "docs"     -> SourceSpec("parquet", s"$sf/documents.parquet"),
        "up"       -> CacheSpec(MapSpec(RefSpec("docs"),
                        Seq("doc_id" -> "doc_id", "text" -> "text", "lang" -> "lang"))),
        "vocab"    -> MapSpec(FilterSpec(RefSpec("docs"), "doc_id % 3 != 0"),
                        Seq("vk" -> "doc_id")),
        "joined"   -> JoinSpec(RefSpec("up"), RefSpec("vocab"), "doc_id", "vk",
                        "left_semi", broadcastVocab = false),
        "bench"    -> FilterSpec(RefSpec("docs"), "doc_id % 50 = 0"),
        "spans"    -> SpanDedupNodeSpec(RefSpec("joined"), "doc_id", "text", 16),
        "nonempty" -> FilterSpec(RefSpec("spans"), "text != ''"),
        "deduped"  -> DedupNodeSpec(RefSpec("nonempty"), "doc_id", "text", mode = "exact"),
        "cleaned"  -> DecontamNodeSpec(RefSpec("deduped"), RefSpec("bench"),
                        "doc_id", "text", n = 3, minHits = 1)),
        out = "cleaned")
      val nodes = PipelineCompiler.compileNodes(spec, spark)
      val plans = org.apache.spark.sql.graft.Bridge.auditPlans(nodes("cleaned"))
      val vkJoins = plans.flatMap(opsOf).count {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "vk"))
        case _ => false
      }
      assert(vkJoins == 1, s"the join subtree is planned $vkJoins times, expected once")
      val up = builderOf(nodes("up"))
      plans.foreach { p =>
        assert(readsOf(up, p) <= 2, s"a segment reads the upstream cache ${readsOf(up, p)}x:\n$p")
      }
    }
    // the flagship: `cleaned`'s stubbed segment reads `passed` at most twice
    // (32 copies before the compiler materialized `kept` and `deduped`)
    PipelineCompiler.withCompiledCacheScope {
      val nodes = PipelineCompiler.compileNodes(
        SpecJson.fromJson(SparkEntry.llmPipelineV3Json), spark, Map("dir" -> sf))
      val passed = builderOf(nodes("passed"))
      val cleanedSegment = builderOf(nodes("cleaned")).cachedPlan.collect {
        case r: RDDScanExec => org.apache.spark.sql.graft.Bridge.stubbedPlan(r.rdd)
      }.flatten
      assert(cleanedSegment.size == 1, "cleaned must be backed by one stubbed segment")
      assert(readsOf(passed, cleanedSegment.head) <= 2,
        s"cleaned segment reads passed ${readsOf(passed, cleanedSegment.head)}x")
      org.apache.spark.sql.graft.Bridge.auditPlans(nodes("train")).foreach { p =>
        assert(readsOf(passed, p) <= 2, s"a v3 segment reads passed ${readsOf(passed, p)}x")
      }
    }
  }
}
