package graft

import graft.plans._
import graft.operators.CoreOps
import graft.sinks.Writers
import org.apache.spark.sql.functions._

class SpecJsonSpec extends SparkSpec {
  import spark.implicits._

  val spec = PipelineSpec(nodes = Seq(
    "li"   -> SourceSpec("parquet", "{%dir%}/lineitem.parquet"),
    "f"    -> FilterSpec(RefSpec("li"), "l_quantity > 30"),
    "part" -> SourceSpec("parquet", "{%dir%}/part.parquet"),
    "j"    -> JoinSpec(RefSpec("f"), RefSpec("part"), "l_partkey", "p_partkey"),
    "agg"  -> AggSpec(RefSpec("j"), Seq("p_brand"), Seq("n" -> "count(1)")),
    "top"  -> LimitSpec(SortSpec(RefSpec("agg"), Seq("n desc")), 5)),
    out = "top")

  test("EVERY OpSpec node round-trips: serialize -> deserialize -> identical spec") {
    // One exemplar per sealed-trait subclass, every field set to a
    // NON-default value so a dropped/renamed field can't hide behind a
    // default. The match below has no wildcard: adding an OpSpec subclass
    // without extending it is a compile ERROR (build escalates
    // match-analysis warnings), the same guarantee SpecJson.opNode has.
    val in: OpSpec = RefSpec("prev")
    def exemplar(shape: OpSpec): OpSpec = shape match {
      case _: SourceSpec  => SourceSpec("csv", "$ROOT/x.csv", Map("sep" -> ";"), "data.items")
      case _: RefSpec     => RefSpec("other")
      case _: FilterSpec  => FilterSpec(in, "a > 1")
      case _: MapSpec     => MapSpec(in, Seq("b" -> "a + 1", "c" -> "upper(s)"))
      case _: WithColumnsSpec => WithColumnsSpec(in, Seq("d" -> "b * 2"))
      case _: ExplodeSpec => ExplodeSpec(in, "split(s, ' ')", "tok")
      case _: AggSpec     => AggSpec(in, Seq("k1", "k2"), Seq("n" -> "count(1)", "m" -> "max(a)"))
      case _: SortSpec    => SortSpec(in, Seq("n desc", "k1"))
      case _: WindowNodeSpec => WindowNodeSpec(in, "sum(x)", "running",
        Seq("k1", "k2"), Seq("ts desc", "id"),
        "rows between unbounded preceding and current row")
      case _: DistinctSpec => DistinctSpec(in, Seq("k1"), Seq("ts desc"))
      case _: LimitSpec   => LimitSpec(in, 7)
      case _: JoinSpec    => JoinSpec(in, RefSpec("vocab"), "lk", "rk", "inner", broadcastVocab = false)
      case _: JoinDetailSpec => JoinDetailSpec(in, RefSpec("det"), "mk", "dk", "rows", Seq("c1", "c2"))
      case _: UnionSpec   => UnionSpec(Seq(in, RefSpec("other")))
      case _: DedupNodeSpec => DedupNodeSpec(in, "id", "txt", "exact", 0.65)
      case _: SpanDedupNodeSpec => SpanDedupNodeSpec(in, "id", "txt", 24)
      case _: SemanticDedupNodeSpec => SemanticDedupNodeSpec(in, "id", "emb", 64, 0.92, 5000, "firstK", "/m/sem")
      case _: SplitNodeSpec => SplitNodeSpec(in, "id", Seq("train" -> 0.75, "test" -> 0.25))
      case _: MixNodeSpec => MixNodeSpec(in, "id", "lang", Map("fr" -> 2.0, "en" -> 0.5), 1.5)
      case _: DsirNodeSpec => DsirNodeSpec(in, RefSpec("tgt"), "id", "txt", 500, 3, 0.25, "s2", "/m/dsir")
      case _: QualityScoreNodeSpec => QualityScoreNodeSpec(in, "txt", Seq(0.5, -1.25, 3.0))
      case _: DecontamNodeSpec => DecontamNodeSpec(in, RefSpec("bench"), "id", "txt", 5, 2,
        hashKeys = true, warnBelow = 0.5)
      case _: PackNodeSpec => PackNodeSpec(in, "id", "txt", 2048L, 64)
      case _: ReportNodeSpec => ReportNodeSpec(in, "txt", "src", exactDistinct = false)
      case _: AnnQuerySpec => AnnQuerySpec(in, "{%root%}/idx", 12, 6, "doc_id", "vec")
      case _: LayoutNodeSpec => LayoutNodeSpec(in, "zorder", "/data/z", Seq("a", "b"), 32, 8)
      case _: CompactStoreSpec => CompactStoreSpec("/data/store", Seq("fp", "id"))
      case _: DeleteIndexSpec => DeleteIndexSpec("{%root%}/idx", RefSpec("victims"), "doc_id")
      case _: BuildIndexSpec => BuildIndexSpec(in, "{%root%}/idx", 64, "int8",
        normalize = true, "doc_id", "vec", trainer = "hier")
      case _: SpyNodeSpec => SpyNodeSpec(in, "tap1",
        Seq("bad" -> "count_if(a < 0)", "mx" -> "max(a)"), 0.25)
      case _: CacheSpec => CacheSpec(FilterSpec(in, "x > 0"))
    }
    val shapes: Seq[OpSpec] = Seq(
      SourceSpec("parquet", "p"), RefSpec("r"), FilterSpec(in, "1=1"),
      MapSpec(in, Nil), WithColumnsSpec(in, Nil), ExplodeSpec(in, "a", "b"),
      AggSpec(in, Nil, Nil), SortSpec(in, Nil),
      WindowNodeSpec(in, "row_number()", "rn"), DistinctSpec(in, Nil),
      LimitSpec(in, 1), JoinSpec(in, in, "l", "r"),
      JoinDetailSpec(in, in, "m", "d"), UnionSpec(Seq(in)),
      DedupNodeSpec(in, "i", "t"), SpanDedupNodeSpec(in, "i", "t"),
      SemanticDedupNodeSpec(in, "i", "v"),
      SplitNodeSpec(in, "i", Nil),
      MixNodeSpec(in, "i", "s", Map.empty), DsirNodeSpec(in, in, "i", "t", 1),
      QualityScoreNodeSpec(in, "t", Nil), DecontamNodeSpec(in, in, "i", "t"),
      PackNodeSpec(in, "i", "t", 1L), ReportNodeSpec(in, "t", "g"),
      AnnQuerySpec(in, "p", 5),
      LayoutNodeSpec(in, "sorted", "p", Nil),
      CompactStoreSpec("p", Seq("fp")), DeleteIndexSpec("p", in),
      BuildIndexSpec(in, "p"), SpyNodeSpec(in, "s"), CacheSpec(in))
    shapes.foreach { shape =>
      val op = exemplar(shape)
      val ps = PipelineSpec(Seq("n" -> op), "n")
      val back = SpecJson.fromJson(SpecJson.toJson(ps))
      assert(back == ps, s"round-trip mutated ${op.getClass.getSimpleName}:\n $op\n ${back.nodes.head._2}")
    }
  }

  test("spec JSON roundtrip preserves the pipeline (persisted-job fidelity)") {
    val json = SpecJson.toJson(spec)
    val back = SpecJson.fromJson(json)
    assert(back == spec)
    // and the deserialized spec compiles + runs, with "n desc" actually
    // descending (regression: expr("n desc") parses as an ALIAS to `desc`)
    val rows = PipelineCompiler.compile(back, spark, Map("dir" -> sf))
      .select("n").as[Long].collect()
    assert(rows.length == 5)
    assert(rows.toSeq == rows.sorted.reverse.toSeq, s"not descending: ${rows.toSeq}")
    val allCounts = PipelineCompiler.compile(
      PipelineSpec(spec.nodes.filterNot(_._1 == "top"), "agg"), spark, Map("dir" -> sf))
      .select("n").as[Long].collect()
    assert(rows.toSeq == allCounts.sorted.reverse.take(5).toSeq, "not the TOP 5")
  }

  test("LLM-op nodes roundtrip through JSON and compile as one prep pipeline") {
    val prep = PipelineSpec(nodes = Seq(
      "docs"  -> SourceSpec("parquet", "{%dir%}/documents.parquet"),
      "bench" -> FilterSpec(RefSpec("docs"), "doc_id % 17 = 0"),
      "spans" -> SpanDedupNodeSpec(RefSpec("docs"), "doc_id", "text", 16),
      "dedup" -> DedupNodeSpec(RefSpec("spans"), "doc_id", "text", "near", 0.7),
      "decon" -> DecontamNodeSpec(RefSpec("dedup"), RefSpec("bench"), "doc_id", "text", 8, 1),
      "qual"  -> QualityScoreNodeSpec(RefSpec("decon"), "text",
        SparkEntry.qualityGateWeights),
      "kept"  -> FilterSpec(RefSpec("qual"), "quality_accept = 1"),
      "tgt"   -> FilterSpec(RefSpec("docs"), "lang = 'en'"),
      "dsir"  -> DsirNodeSpec(RefSpec("kept"), RefSpec("tgt"), "doc_id", "text", k = 300),
      "split" -> SplitNodeSpec(RefSpec("dsir"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.1)),
      "train" -> FilterSpec(RefSpec("split"), "split = 'train'"),
      "mixed" -> MixNodeSpec(RefSpec("train"), "doc_id", "lang", Map("fr" -> 2.0), 1.0),
      "uniq"  -> WithColumnsSpec(RefSpec("mixed"),
        Seq("copy_id" -> "concat_ws('#', doc_id, rep)")),
      "pack"  -> PackNodeSpec(RefSpec("uniq"), "copy_id", "text", 512, 16)),
      out = "pack")
    val back = SpecJson.fromJson(SpecJson.toJson(prep))
    assert(back == prep)
    val packed = PipelineCompiler.compile(back, spark, Map("dir" -> sf))
    assert(packed.count() > 0)
    assert(packed.columns.toSeq == Seq("shard", "bin", "n_docs", "seq", "n_toks"))
    // the exact-mode dedup node compiles too, and keeps column shape
    val exact = PipelineCompiler.compile(PipelineSpec(Seq(
      "docs" -> SourceSpec("parquet", "{%dir%}/documents.parquet"),
      "d"    -> DedupNodeSpec(RefSpec("docs"), "doc_id", "text", "exact")), "d"),
      spark, Map("dir" -> sf))
    assert(exact.columns.contains("doc_id") && !exact.columns.contains("dup_count"))
    // DAG export names the new node types
    val dag = SpecJson.dag(prep)
    Seq("dedupnode", "spandedupnode", "decontamnode", "qualityscorenode",
        "dsirnode", "splitnode", "mixnode", "packnode")
      .foreach(t => assert(dag.contains(t), s"dag missing $t"))
  }

  test("layout node: JSON round-trip compiles and materializes the clustered copy") {
    val base = java.nio.file.Files.createTempDirectory("layoutnode").toString
    val spec = PipelineSpec(nodes = Seq(
      "li"     -> SourceSpec("parquet", "{%dir%}/lineitem.parquet"),
      "narrow" -> MapSpec(RefSpec("li"), Seq(
        "k" -> "l_orderkey", "p" -> "l_partkey", "q" -> "l_quantity")),
      "z"      -> LayoutNodeSpec(RefSpec("narrow"), "zorder", s"$base/z",
                    Seq("p", "q"), files = 8, bits = 6)),
      out = "z")
    val back = SpecJson.fromJson(SpecJson.toJson(spec))
    assert(back == spec)
    val df = PipelineCompiler.compile(back, spark, Map("dir" -> sf))
    // the layout is a materialization barrier: the compiled node reads the
    // laid-out files, and the rewrite preserved every row/value
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(df.count() == src.count())
    assert(df.agg(sum("k")).head.getLong(0)
      == src.agg(sum("l_orderkey")).head.getLong(0))
    assert(SpecJson.dag(spec).contains("layoutnode"))
  }

  test("missing REQUIRED batch-node fields fail the parse naming op and field, never NPE") {
    // the ingest-side strict-parse discipline applied to batch specs: a
    // hand-authored spec with a missing child/numeric field must name the
    // problem (a bare .get(...).asInt NPE'd with no context)
    def spec(nodeJson: String) =
      s"""{"nodes": [{"name": "x", "spec": $nodeJson}], "out": "x"}"""
    val broken = Seq(
      spec("""{"op": "limit", "input": {"op": "ref", "name": "p"}}""") -> "'n'",
      spec("""{"op": "limit", "n": 3}""") -> "'input'",
      spec("""{"op": "filter", "predicate": "1=1"}""") -> "'input'",
      spec("""{"op": "join", "input": {"op": "ref", "name": "p"}}""") -> "'vocab'",
      spec("""{"op": "union"}""") -> "'inputs'",
      spec("""{"op": "dsir", "input": {"op": "ref", "name": "p"},
               "target": {"op": "ref", "name": "p"}}""") -> "'k'",
      spec("""{"op": "pack", "input": {"op": "ref", "name": "p"}}""") -> "'budgetTokens'",
      spec("""{"op": "annQuery", "input": {"op": "ref", "name": "p"},
               "indexDir": "/i"}""") -> "'k'",
      spec("""{"op": "deleteIndex", "indexDir": "/i"}""") -> "'ids'",
      // JSON null counts as missing, like the ingest parser
      spec("""{"op": "limit", "n": null, "input": {"op": "ref", "name": "p"}}""") -> "'n'",
      // numbers and booleans are typed, never coerced to 0 / false
      spec("""{"op": "limit", "n": "ten", "input": {"op": "ref", "name": "p"}}""") -> "'n'",
      spec("""{"op": "spanDedup", "idCol": "id", "textCol": "t", "k": "sixteen",
               "input": {"op": "ref", "name": "p"}}""") -> "'k'",
      spec("""{"op": "dedup", "idCol": "id", "textCol": "t", "threshold": true,
               "input": {"op": "ref", "name": "p"}}""") -> "'threshold'",
      """{"out": "x"}""" -> "'nodes'",
      """{"nodes": [{"name": "x"}], "out": "x"}""" -> "'spec'")
    broken.foreach { case (json, field) =>
      val e = intercept[IllegalArgumentException](SpecJson.fromJson(json))
      assert(e.getMessage.contains(field),
        s"expected $field named in: ${e.getMessage}")
    }
  }

  test("unknown op discriminator fails loudly") {
    val e = intercept[IllegalArgumentException] {
      SpecJson.fromJson("""{"nodes":[{"name":"x","spec":{"op":"warp"}}],"out":"x"}""")
    }
    assert(e.getMessage.contains("warp"))
  }

  test("DAG export lists nodes and links like getLinkedJobs") {
    val dag = SpecJson.dag(spec)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(dag)
    val ids = m.get("nodes").elements()
    val idSet = Iterator.continually(ids).takeWhile(_.hasNext).map(_.next.get("id").asText).toSet
    assert(Set("li", "f", "part", "j", "agg", "top").subsetOf(idSet))
    val links = m.get("links").elements()
    val pairSet = Iterator.continually(links).takeWhile(_.hasNext)
      .map(l => (l.next()))
      .map(l => l.get("source").asText -> l.get("target").asText).toSet
    assert(pairSet.contains("li" -> "f"))
    assert(pairSet.contains("f" -> "j") && pairSet.contains("part" -> "j"))
  }

  test("json reader resolves nested rootNode paths (results.vacancies shape)") {
    // the trud.js payload shape: records under a two-level path
    val file = java.nio.file.Files.createTempDirectory("nested").toString + "/doc.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      """{"meta":1,"results":{"vacancies":[{"id":1,"name":"a"},{"id":2,"name":"b"}]}}""")
    val df = graft.sources.Readers.json(spark, file, rootNode = "results.vacancies")
    assert(df.columns.sorted.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }

  test("join vocab built by a sub-pipeline (bor-dwc vocab-from-pipeline)") {
    // vocab side is itself a multi-node chain (source → filter → agg)
    val spec = PipelineSpec(nodes = Seq(
      "orders"    -> SourceSpec("parquet", s"$sf/orders.parquet"),
      "cust"      -> SourceSpec("parquet", s"$sf/customer.parquet"),
      "big_cust"  -> FilterSpec(RefSpec("cust"), "c_acctbal > 0"),
      "vocab"     -> AggSpec(RefSpec("big_cust"), Seq("c_custkey"),
                       Seq("seg" -> "first(c_mktsegment)")),
      "enriched"  -> JoinSpec(RefSpec("orders"), RefSpec("vocab"), "o_custkey", "c_custkey"),
      "out"       -> AggSpec(RefSpec("enriched"), Seq("seg"), Seq("n" -> "count(1)"))),
      out = "out")
    val df = PipelineCompiler.compile(spec, spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("seg", "n"))
  }

  test("runToSinks multicasts a shared node to several sinks with one persist") {
    val base = java.nio.file.Files.createTempDirectory("sinks").toString
    val spec = PipelineSpec(nodes = Seq(
      "n"   -> SourceSpec("parquet", s"$sf/nation.parquet"),
      "agg" -> AggSpec(RefSpec("n"), Seq("n_regionkey"), Seq("n" -> "count(1)"))),
      out = "agg")
    PipelineCompiler.runToSinks(spec, spark, Seq(
      ("agg", "parquet", s"$base/agg_parquet"),
      ("agg", "ndjson", s"$base/agg_json"),
      ("n", "parquet", s"$base/raw")))
    assert(spark.read.parquet(s"$base/agg_parquet").count() == 5)
    assert(spark.read.json(s"$base/agg_json").count() == 5)
    assert(spark.read.parquet(s"$base/raw").count() == 25)
  }

  test("a node written directly to two sinks is persisted, not recomputed") {
    val base = java.nio.file.Files.createTempDirectory("sinks2").toString
    // uuid() is nondeterministic: if the node were recomputed per sink the
    // two outputs would diverge; the persist-once multicast keeps them equal
    val spec = PipelineSpec(nodes = Seq(
      "n"      -> SourceSpec("parquet", s"$sf/nation.parquet"),
      "tagged" -> MapSpec(RefSpec("n"), Seq("n_nationkey" -> "n_nationkey",
                                            "tag" -> "uuid()"))),
      out = "tagged")
    PipelineCompiler.runToSinks(spec, spark, Seq(
      ("tagged", "parquet", s"$base/a"),
      ("tagged", "parquet", s"$base/b")))
    val a = spark.read.parquet(s"$base/a").orderBy("n_nationkey").collect().toSeq
    val b = spark.read.parquet(s"$base/b").orderBy("n_nationkey").collect().toSeq
    assert(a == b, "direct double-sink write recomputed the node (divergent uuids)")
  }

  test("thruStateful reproduces order-dependent cross-record state") {
    import spark.implicits._
    // running dictionary: emit each value with the count of distinct keys
    // seen so far — inherently sequential (the reference's Thru idiom)
    val ds = Seq(("a", 1), ("b", 2), ("a", 3)).toDS()
    val out = CoreOps.thruStateful(ds, Set.empty[String]) { (seen, t) =>
      val s2 = seen + t._1
      (s2, Seq((t._2, s2.size)))
    }.collect().toSeq
    assert(out == Seq((1, 1), (2, 2), (3, 2)))
  }

  test("push sink delivers batched records through injected transport") {
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // transports must be serializable-free: collect sizes via accumulator
    val acc = spark.sparkContext.longAccumulator("pushed")
    val batches = spark.sparkContext.longAccumulator("batches")
    Writers.push(Seq(1, 2, 3, 4, 5).toDF("v").repartition(2), batchSize = 2, { batch =>
      acc.add(batch.size); batches.add(1)
    })
    assert(acc.value == 5)
    assert(batches.value >= 3) // 2 partitions, batch size 2
  }

  test("joinDetailExternal fetches per-master details inside partitions") {
    import spark.implicits._
    val masters = Seq(1, 2, 3).toDS()
    val out = graft.operators.Joins.joinDetailExternal[Int, Int, String](
      masters, identity, k => Seq.fill(k)(s"d$k"))
    val sizes = out.collect().map { case (m, ds) => m -> ds.size }.toMap
    assert(sizes == Map(1 -> 1, 2 -> 2, 3 -> 3))
  }

  test("multi-field array2map converts each listed field in place") {
    val df = Seq((1, Seq(("a", 1)), Seq(("b", 2)))).toDF("id", "f1", "f2")
      .withColumn("f1", expr("transform(f1, x -> struct(x._1 as id, x._2 as v))"))
      .withColumn("f2", expr("transform(f2, x -> struct(x._1 as id, x._2 as v))"))
    val out = CoreOps.array2mapFields(df, Seq("f1", "f2"))
    assert(out.select(expr("f1['a']")).head().getInt(0) == 1)
    assert(out.select(expr("f2['b']")).head().getInt(0) == 2)
  }

  test("checked-in batch spec assets are in canonical form (no drift)") {
    // the assets are the only copy of these specs and the gates compile
    // FROM them; a hand edit must still be what the serializer writes, so
    // every field survives the round trip and the bytes stay stable
    for (asset <- Seq("llm_pipeline_v3", "window_topn", "ann_lifecycle")) {
      val file = SpecJson.resource(s"/specs/$asset.json")
      assert(file == SpecJson.toJson(SpecJson.fromJson(file)),
        s"specs/$asset.json is not in canonical form")
    }
  }

  test("window node: top-N per key, running sum frame, and default frame compile") {
    // the gate-shaped spec (row_number + filter) against the direct API
    val topn = PipelineCompiler.compile(
      SpecJson.fromJson(SpecJson.resource("/specs/window_topn.json")),
      spark, Map("dir" -> sf))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    assert(topn.count() == direct.count())
    assert(topn.exceptAll(direct).isEmpty && direct.exceptAll(topn).isEmpty)
    // explicit frame clause: per-key running sum in order
    val running = PipelineCompiler.compile(PipelineSpec(Seq(
      "o" -> SourceSpec("parquet", s"$sf/orders.parquet"),
      "r" -> WindowNodeSpec(RefSpec("o"),
        "sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))", "running_cents",
        partitionBy = Seq("o_custkey"),
        orderBy = Seq("o_orderdate", "o_orderkey"),
        frame = "rows between unbounded preceding and current row")), "r"),
      spark)
    val last = running.filter("o_custkey = 1")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      .select("running_cents").as[Long].head()
    val total = spark.read.parquet(s"$sf/orders.parquet").filter("o_custkey = 1")
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))).as[Long].head()
    assert(last == total, "running sum's last row must equal the partition total")
    // no partition keys + default frame: a global rank is legal too
    val global = PipelineCompiler.compile(PipelineSpec(Seq(
      "n" -> SourceSpec("parquet", s"$sf/nation.parquet"),
      "r" -> WindowNodeSpec(RefSpec("n"), "rank()", "rk",
        orderBy = Seq("n_regionkey"))), "r"), spark)
    assert(global.filter("rk = 1").count() == 5) // 5 nations share region 0
    assert(SpecJson.dag(PipelineSpec(Seq(
      "n" -> WindowNodeSpec(RefSpec("x"), "rank()", "rk")), "n"))
      .contains("windownode"))
  }

  test("CacheSpec returns a cache-leaf-rooted relation and registers an unpersist handle") {
    import graft.plans._
    // the registry/emptiness asserts below are global to the session —
    // start from a clean cache manager so test order cannot skew them
    PipelineCompiler.unpersistCompiledCaches()
    spark.sharedState.cacheManager.clearCache()
    val spec = PipelineSpec(nodes = Seq(
      "docs" -> SourceSpec("parquet", s"$sf/documents.parquet"),
      "big"  -> CacheSpec(FilterSpec(RefSpec("docs"), "doc_id % 2 = 0"))),
      out = "big")
    val df = PipelineCompiler.compile(spec, spark, Map.empty)
    // downstream analysis must see the InMemoryRelation LEAF, not the full
    // upstream tree (persist truncates execution, this truncates ANALYSIS;
    // a DAG's shared nodes are otherwise re-walked once per reference)
    assert(df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryRelation],
      df.queryExecution.analyzed.getClass.toString)
    // semantics unchanged through the leaf
    val n = df.count()
    assert(n == spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 2 = 0").count())
    // the compiler-scoped registry releases the persist deterministically
    // (the r12 leak: every compile left session-lifetime cached relations).
    // Since r16 the cache entry is keyed by the lineage-stubbed LogicalRDD
    // leaf (the exponential-render fix), so a structurally equivalent but
    // independently built query no longer plan-matches it — in-compiler
    // reuse is by REFERENCE through the rooted relation, and the cached
    // child must be that stub leaf, not the upstream tree
    val imr = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]
    assert(imr.cachedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]),
      s"CacheSpec must persist the lineage-stubbed leaf, got:\n${imr.cachedPlan}")
    // ... and the compiled segment stays plan-auditable through the stub
    val segPlans = imr.cachedPlan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        org.apache.spark.sql.graft.Bridge.stubbedPlan(r.rdd)
    }.flatten
    assert(segPlans.nonEmpty && segPlans.forall(_.toString.contains("doc_id")),
      s"Bridge.stubbedPlan must return the stubbed segment's physical plan")
    assert(!spark.sharedState.cacheManager.isEmpty,
      "CacheSpec must register its persist with the cache manager")
    PipelineCompiler.unpersistCompiledCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "unpersistCompiledCaches must release CacheSpec persists")
  }

  /** The persisted relations (cache builders, identity-distinct) `df`'s
    * analyzed plan reads. */
  private def cacheBuilders(df: org.apache.spark.sql.DataFrame) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
    }.filter(seen.add)
  }

  test("multi-read inputs get one registered barrier; fan-in consumers share it") {
    PipelineCompiler.unpersistCompiledCaches()
    spark.sharedState.cacheManager.clearCache()
    // `wide` is an aggregation, and BOTH of its consumers read their input
    // several times: the compiler must materialize it once, for both
    val spec = PipelineSpec(nodes = Seq(
      "docs"  -> SourceSpec("parquet", s"$sf/documents.parquet"),
      "bench" -> FilterSpec(RefSpec("docs"), "doc_id % 50 = 0"),
      "wide"  -> DedupNodeSpec(FilterSpec(RefSpec("docs"), "doc_id % 50 != 0"),
                   "doc_id", "text", "exact"),
      "spans" -> SpanDedupNodeSpec(RefSpec("wide"), "doc_id", "text", 16),
      "clean" -> DecontamNodeSpec(RefSpec("wide"), RefSpec("bench"), "doc_id", "text", 3, 1)),
      out = "clean")
    val nodes = PipelineCompiler.compileNodes(spec, spark)
    assert(cacheBuilders(nodes("wide")).isEmpty, "the node's own frame stays unmaterialized")
    val spansReads = cacheBuilders(nodes("spans"))
    val cleanReads = cacheBuilders(nodes("clean"))
    assert(spansReads.size == 1 && cleanReads.size == 1 && spansReads.head.eq(cleanReads.head),
      "two multi-read consumers of one node must share exactly one barrier")
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the barrier must register its persist with the cache manager")
    // the barrier changes no rows: same as the operators on the raw input
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val raw = graft.operators.Dedup.exact(docs.filter("doc_id % 50 != 0"), "text", "doc_id")
      .drop("dup_count")
    val expectClean = graft.operators.Dedup.decontaminate(raw, docs.filter("doc_id % 50 = 0"),
      "doc_id", "text", 3, 1)
    assert(nodes("clean").orderBy("doc_id").collect().toSeq ==
      expectClean.orderBy("doc_id").collect().toSeq)
    val expectSpans = graft.operators.Dedup.dropRepeatedSpans(raw, "doc_id", "text", 16)
    assert(nodes("spans").select("doc_id", "text").orderBy("doc_id").collect().toSeq ==
      expectSpans.select(col("id"), col("text_out")).orderBy("id").collect().toSeq)
    // registered like a CacheSpec persist, so the session hammer frees it
    PipelineCompiler.unpersistCompiledCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "unpersistCompiledCaches must release the compiler's barriers")
  }

  test("withCompiledCacheScope around a v3 compile releases every cache, barriers included") {
    PipelineCompiler.unpersistCompiledCaches()
    spark.sharedState.cacheManager.clearCache()
    PipelineCompiler.withCompiledCacheScope {
      val nodes = PipelineCompiler.compileNodes(
        SpecJson.fromJson(SparkEntry.llmPipelineV3Json), spark, Map("dir" -> sf))
      // span dedup reads `kept` (a join over `passed`) through a barrier,
      // so its plan no longer reaches `passed` directly
      val passed = cacheBuilders(nodes("passed")).head
      val spansReads = cacheBuilders(nodes("spans"))
      assert(spansReads.nonEmpty && !spansReads.exists(_.eq(passed)),
        "no barrier under the spans node")
      assert(!spark.sharedState.cacheManager.isEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a scoped compile must release every cache it created")
  }

  test("concurrent compile scopes release only their own caches") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val spec = PipelineSpec(nodes = Seq(
      "docs" -> SourceSpec("parquet", s"$sf/documents.parquet"),
      "big"  -> CacheSpec(FilterSpec(RefSpec("docs"), "doc_id % 2 = 0"))),
      out = "big")
    def builder(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation].cacheBuilder
    // forced order: T1 compiles, T2 compiles, T1 exits, then T2 reads
    val (t1Compiled, t2Compiled, t1Exited) =
      (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    def await(l: CountDownLatch) = assert(l.await(120, TimeUnit.SECONDS), "latch timed out")
    val t1 = scala.concurrent.Future {
      try PipelineCompiler.withCompiledCacheScope {
        PipelineCompiler.compile(spec, spark).count()
        t1Compiled.countDown()
        await(t2Compiled)
      } finally t1Exited.countDown()
    }(scala.concurrent.ExecutionContext.global)
    val t2 = scala.concurrent.Future {
      await(t1Compiled)
      PipelineCompiler.withCompiledCacheScope {
        val df = PipelineCompiler.compile(spec, spark)
        val n0 = df.count()
        t2Compiled.countDown()
        await(t1Exited)
        val stillCached = builder(df).isCachedColumnBuffersLoaded
        (stillCached, n0, df.count())
      }
    }(scala.concurrent.ExecutionContext.global)
    def result[T](f: scala.concurrent.Future[T]) =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(300, "s"))
    result(t1)
    // T2's scope exit must not throw (an index-based registry threw
    // "removing negative number of elements" here)
    val (stillCached, n0, n1) = result(t2)
    assert(stillCached, "T1's scope exit released T2's live cache")
    assert(n1 == n0 && n0 == spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 2 = 0").count())
  }

  test("scoped v3 compiles do not grow the session's caches") {
    // compared as id sets: the ContextCleaner may reclaim earlier tests'
    // relations meanwhile, which must not read as this test's growth
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (rdds0, registered0) = (persisted, graft.exec.Scope.registeredCaches)
    val v3 = SpecJson.fromJson(SparkEntry.llmPipelineV3Json)
    for (_ <- 0 until 3) PipelineCompiler.withCompiledCacheScope {
      val nodes = PipelineCompiler.compileNodes(v3, spark, Map("dir" -> sf))
      assert(nodes("train").count() > 0)
    }
    assert(graft.exec.Scope.registeredCaches == registered0,
      "a scoped compile left a relation in the cache registry")
    val grown = persisted.diff(rdds0)
    assert(grown.isEmpty, s"persistent RDDs left behind: $grown")
  }

  test("runToSinks compiles once for all sinks: an eager node's jobs run for one compile") {
    val base = java.nio.file.Files.createTempDirectory("sinks3").toString
    // the DSIR node builds its gram-count model eagerly at compile time;
    // the two sinks sit on DIFFERENT nodes downstream of it
    val spec = PipelineSpec(nodes = Seq(
      "docs" -> SourceSpec("parquet", s"$sf/documents.parquet"),
      "sel"  -> DsirNodeSpec(RefSpec("docs"), FilterSpec(RefSpec("docs"), "lang = 'en'"),
                  "doc_id", "text", k = 20),
      "en"   -> FilterSpec(RefSpec("sel"), "lang = 'en'"),
      "ids"  -> MapSpec(RefSpec("sel"), Seq("doc_id" -> "doc_id"))),
      out = "ids")
    val selJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "spec:sel"))
          selJobs.incrementAndGet()
    }
    def selJobsDuring(body: => Unit): Int = {
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      selJobs.set(0)
      body
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      selJobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    val (oneCompile, sinkRun) = try {
      (selJobsDuring(PipelineCompiler.withCompiledCacheScope {
         PipelineCompiler.compileNodes(spec, spark) }),
       selJobsDuring(PipelineCompiler.runToSinks(spec, spark, Seq(
         ("en", "parquet", s"$base/en"), ("ids", "parquet", s"$base/ids")))))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(oneCompile > 0, "the DSIR model build should launch compile-time jobs")
    assert(sinkRun == oneCompile,
      s"runToSinks ran $sinkRun spec:sel jobs for 2 sinks, one compile runs $oneCompile")
    val sel = PipelineCompiler.compile(spec.copy(out = "sel"), spark)
    assert(spark.read.parquet(s"$base/ids").count() == sel.count())
    assert(spark.read.parquet(s"$base/en").count() == sel.filter("lang = 'en'").count())
  }

  test("a SORTED cached segment self-joined (diamond) plans and runs — stub ordering hygiene") {
    // Regression pin for the r16 lineage stub: LogicalRDD.fromDataset
    // copies the EXECUTED plan's outputOrdering (a sorted segment always
    // has one), InMemoryRelation inherits it, and the analyzer's
    // newInstance() — how a self-join's second reference is deduplicated —
    // re-mints output exprIds WITHOUT remapping the ordering, so strict
    // canonicalization (cache lookup, sameResult) later throws
    // NoSuchElementException. The stub therefore drops the ordering; this
    // test is the diamond-over-a-sorted-cache shape that crashed.
    import graft.plans._
    val spec = PipelineSpec(nodes = Seq(
      "docs"   -> SourceSpec("parquet", s"$sf/documents.parquet"),
      "sorted" -> CacheSpec(SortSpec(
        MapSpec(RefSpec("docs"), Seq("doc_id" -> "doc_id", "lang" -> "lang")),
        Seq("doc_id"))),
      // diamond: both join sides reference the SAME sorted cache node
      "evens"  -> FilterSpec(RefSpec("sorted"), "doc_id % 2 = 0"),
      "pairs"  -> JoinSpec(RefSpec("sorted"), RefSpec("evens"),
        "doc_id", "doc_id", joinType = "inner", broadcastVocab = false)),
      out = "pairs")
    val df = PipelineCompiler.compile(spec, spark, Map.empty)
    // a second cache-manager lookup canonicalizes every live entry — the
    // crash site — and the result must still be the plain join semantics
    val n = df.count()
    val expect = spark.read.parquet(s"$sf/documents.parquet").filter("doc_id % 2 = 0").count()
    assert(n == expect, s"diamond over sorted cache returned $n, expected $expect")
    PipelineCompiler.unpersistCompiledCaches()
  }
}
