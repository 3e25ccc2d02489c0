package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** JSON (de)serialization of pipeline specs — the analogue of the
  * reference's persisted Job documents (`/root/reference/jobs/job.js:49-64`
  * serialize/deserialize; mongoose storage). Specs are stored as plain JSON
  * files/strings instead of MongoDB documents; the `op` field plays the
  * reference's `type` discriminator role (`jobs/job.js:24`).
  *
  * Also exports the spec DAG as `{nodes, links}` for visualization — the
  * reference's `getLinkedJobs` Sankey export
  * (`/root/reference/jobs/hi-order/job-pipeline.js:108-151`).
  */
object SpecJson {

  private val M = new ObjectMapper()

  // --- serialization --------------------------------------------------------

  private def pairs(n: ObjectNode, kvs: (String, String)*): Unit =
    kvs.foreach { case (k, v) => n.put(k, v) }

  private def opNode(op: OpSpec): ObjectNode = {
    val n = M.createObjectNode()
    op match {
      case SourceSpec(format, path, options, root) =>
        pairs(n, "op" -> "source", "format" -> format, "path" -> path, "rootNode" -> root)
        val o = n.putObject("options"); options.foreach { case (k, v) => o.put(k, v) }
      case RefSpec(name) => pairs(n, "op" -> "ref", "name" -> name)
      case FilterSpec(in, p) => pairs(n, "op" -> "filter", "predicate" -> p); n.set[JsonNode]("input", opNode(in))
      case MapSpec(in, projs) =>
        n.put("op", "map"); n.set[JsonNode]("input", opNode(in))
        val a = n.putArray("projections")
        projs.foreach { case (k, e) => val o = a.addObject(); o.put("name", k); o.put("expr", e) }
      case WithColumnsSpec(in, cols) =>
        n.put("op", "withColumns"); n.set[JsonNode]("input", opNode(in))
        val a = n.putArray("columns")
        cols.foreach { case (k, e) => val o = a.addObject(); o.put("name", k); o.put("expr", e) }
      case ExplodeSpec(in, arr, as) =>
        pairs(n, "op" -> "explode", "arrayExpr" -> arr, "as" -> as); n.set[JsonNode]("input", opNode(in))
      case AggSpec(in, keys, aggs) =>
        n.put("op", "agg"); n.set[JsonNode]("input", opNode(in))
        val k = n.putArray("keys"); keys.foreach(k.add)
        val a = n.putArray("aggs")
        aggs.foreach { case (nm, e) => val o = a.addObject(); o.put("name", nm); o.put("expr", e) }
      case SortSpec(in, keys) =>
        n.put("op", "sort"); n.set[JsonNode]("input", opNode(in))
        val k = n.putArray("keys"); keys.foreach(k.add)
      case WindowNodeSpec(in, fn, as, parts, order, frame) =>
        pairs(n, "op" -> "window", "function" -> fn, "as" -> as, "frame" -> frame)
        val p = n.putArray("partitionBy"); parts.foreach(p.add)
        val o = n.putArray("orderBy"); order.foreach(o.add)
        n.set[JsonNode]("input", opNode(in))
      case DistinctSpec(in, keys, order) =>
        n.put("op", "distinct"); n.set[JsonNode]("input", opNode(in))
        val k = n.putArray("keys"); keys.foreach(k.add)
        val o = n.putArray("order"); order.foreach(o.add)
      case LimitSpec(in, m) => n.put("op", "limit"); n.put("n", m); n.set[JsonNode]("input", opNode(in))
      case JoinSpec(in, vocab, lk, rk, jt, b) =>
        pairs(n, "op" -> "join", "leftKey" -> lk, "rightKey" -> rk, "joinType" -> jt)
        n.put("broadcastVocab", b); n.set[JsonNode]("input", opNode(in)); n.set[JsonNode]("vocab", opNode(vocab))
      case JoinDetailSpec(m0, d, mk, dk, as, detailCols) =>
        pairs(n, "op" -> "joinDetail", "masterKey" -> mk, "detailKey" -> dk, "as" -> as)
        val dc = n.putArray("detailCols"); detailCols.foreach(dc.add)
        n.set[JsonNode]("master", opNode(m0)); n.set[JsonNode]("detail", opNode(d))
      case UnionSpec(ins) =>
        n.put("op", "union"); val a = n.putArray("inputs"); ins.foreach(i => a.add(opNode(i)))
      case DedupNodeSpec(in, id, text, mode, threshold) =>
        pairs(n, "op" -> "dedup", "idCol" -> id, "textCol" -> text, "mode" -> mode)
        n.put("threshold", threshold); n.set[JsonNode]("input", opNode(in))
      case SpanDedupNodeSpec(in, id, text, k) =>
        pairs(n, "op" -> "spanDedup", "idCol" -> id, "textCol" -> text)
        n.put("k", k); n.set[JsonNode]("input", opNode(in))
      case SemanticDedupNodeSpec(in, id, vec, k, thr, maxCs, cents, modelDir) =>
        pairs(n, "op" -> "semanticDedup", "idCol" -> id, "vecCol" -> vec,
          "centroids" -> cents)
        n.put("k", k); n.put("threshold", thr); n.put("maxClusterSize", maxCs)
        if (modelDir.nonEmpty) n.put("modelDir", modelDir)
        n.set[JsonNode]("input", opNode(in))
      case SplitNodeSpec(in, id, splits) =>
        pairs(n, "op" -> "split", "idCol" -> id); n.set[JsonNode]("input", opNode(in))
        val a = n.putArray("splits")
        splits.foreach { case (nm, w) => val o = a.addObject(); o.put("name", nm); o.put("weight", w) }
      case MixNodeSpec(in, id, stratum, weights, dw) =>
        pairs(n, "op" -> "mix", "idCol" -> id, "stratumCol" -> stratum)
        n.put("defaultWeight", dw); n.set[JsonNode]("input", opNode(in))
        val o = n.putObject("weights"); weights.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      case DsirNodeSpec(in, target, id, text, k, hexLen, alpha, salt, modelDir) =>
        pairs(n, "op" -> "dsir", "idCol" -> id, "textCol" -> text, "salt" -> salt)
        n.put("k", k); n.put("hexLen", hexLen); n.put("alpha", alpha)
        if (modelDir.nonEmpty) n.put("modelDir", modelDir)
        n.set[JsonNode]("input", opNode(in)); n.set[JsonNode]("target", opNode(target))
      case QualityScoreNodeSpec(in, text, weights) =>
        pairs(n, "op" -> "qualityScore", "textCol" -> text)
        val arr = n.putArray("weights"); weights.foreach(arr.add)
        n.set[JsonNode]("input", opNode(in))
      case DecontamNodeSpec(in, bench, id, text, ngram, minHits, hashKeys, warnBelow) =>
        pairs(n, "op" -> "decontaminate", "idCol" -> id, "textCol" -> text)
        n.put("n", ngram); n.put("minHits", minHits); n.put("hashKeys", hashKeys)
        // the calibration floor is opt-in — encode by omission at the
        // default so checked-in spec assets stay byte-identical
        if (warnBelow > 0.0) n.put("warnBelow", warnBelow)
        n.set[JsonNode]("input", opNode(in)); n.set[JsonNode]("bench", opNode(bench))
      case PackNodeSpec(in, id, text, budget, shards) =>
        pairs(n, "op" -> "pack", "idCol" -> id, "textCol" -> text)
        n.put("budgetTokens", budget); n.put("shards", shards)
        n.set[JsonNode]("input", opNode(in))
      case ReportNodeSpec(in, text, group, exact) =>
        pairs(n, "op" -> "report", "textCol" -> text, "groupCol" -> group)
        n.put("exactDistinct", exact)
        n.set[JsonNode]("input", opNode(in))
      case AnnQuerySpec(in, indexDir, k, nprobe, id, vec) =>
        pairs(n, "op" -> "annQuery", "indexDir" -> indexDir,
          "idCol" -> id, "vecCol" -> vec)
        n.put("k", k); n.put("nprobe", nprobe)
        n.set[JsonNode]("input", opNode(in))
      case LayoutNodeSpec(in, layout, path, cols, files, bits) =>
        pairs(n, "op" -> "layout", "layout" -> layout, "path" -> path)
        val c = n.putArray("cols"); cols.foreach(c.add)
        n.put("files", files); n.put("bits", bits)
        n.set[JsonNode]("input", opNode(in))
      case CompactStoreSpec(path, keys) =>
        pairs(n, "op" -> "compactStore", "path" -> path)
        val k = n.putArray("keys"); keys.foreach(k.add)
      case DeleteIndexSpec(dir, ids, idCol) =>
        pairs(n, "op" -> "deleteIndex", "indexDir" -> dir, "idCol" -> idCol)
        n.set[JsonNode]("ids", opNode(ids))
      case BuildIndexSpec(in, dir, nlist, codec, normalize, idCol, vecCol, trainer) =>
        pairs(n, "op" -> "buildIndex", "indexDir" -> dir, "codec" -> codec,
          "idCol" -> idCol, "vecCol" -> vecCol)
        n.put("nlist", nlist); n.put("normalize", normalize)
        // encode by omission at the default so checked-in specs stay
        // byte-identical (the warnBelow/sampleRate policy)
        if (trainer != "flat") n.put("trainer", trainer)
        n.set[JsonNode]("input", opNode(in))
      case SpyNodeSpec(in, name, metrics, rate) =>
        pairs(n, "op" -> "spy", "name" -> name)
        if (rate > 0.0) n.put("sampleRate", rate)
        val a = n.putArray("metrics")
        metrics.foreach { case (nm, e) =>
          val o = a.addObject(); o.put("name", nm); o.put("expr", e) }
        n.set[JsonNode]("input", opNode(in))
      case CacheSpec(in) =>
        n.put("op", "cache"); n.set[JsonNode]("input", opNode(in))
    }
    n
  }

  def toJson(spec: PipelineSpec): String = {
    val root = M.createObjectNode()
    val nodes = root.putArray("nodes")
    spec.nodes.foreach { case (name, op) =>
      val n = nodes.addObject(); n.put("name", name); n.set[JsonNode]("spec", opNode(op))
    }
    root.put("out", spec.out)
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // --- deserialization ------------------------------------------------------

  private def str(n: JsonNode, f: String, default: String = ""): String =
    Option(n.get(f)).map(_.asText).getOrElse(default)
  private def strs(n: JsonNode, f: String): Seq[String] =
    Option(n.get(f)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  /** Required field of a batch node — fail the PARSE naming op and field
    * (the ingest-side strict-parse discipline; JSON null = missing). The
    * raw `n.get(f).asInt` form NPE'd with no context on a hand-authored
    * spec missing `n`/`k`/`input`, which is the RunSpec persona's most
    * likely typo.
    */
  private def req(n: JsonNode, op: String, f: String): JsonNode = {
    val v = n.get(f)
    if (v == null || v.isNull) throw new IllegalArgumentException(
      s"$op node: missing required field '$f'")
    v
  }
  private def namedExprs(n: JsonNode, f: String): Seq[(String, String)] =
    Option(n.get(f)).map(_.elements().asScala.map(e =>
      str(e, "name") -> str(e, "expr")).toSeq).getOrElse(Nil)

  /** Required CHILD node of a batch node, parse-failing with the op and
    * field name when absent (a bare `parseOp(n.get("input"))` NPE'd).
    */
  private def child(n: JsonNode, op: String, f: String): OpSpec =
    parseOp(req(n, op, f))

  private def parseOp(n: JsonNode): OpSpec = str(n, "op") match {
    case "source" =>
      val opts = Option(n.get("options")).map(o =>
        o.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
      SourceSpec(str(n, "format"), str(n, "path"), opts, str(n, "rootNode"))
    case "ref"     => RefSpec(str(n, "name"))
    case "filter"  => FilterSpec(child(n, "filter", "input"), str(n, "predicate"))
    case "map"     => MapSpec(child(n, "map", "input"), namedExprs(n, "projections"))
    case "withColumns" => WithColumnsSpec(child(n, "withColumns", "input"), namedExprs(n, "columns"))
    case "explode" => ExplodeSpec(child(n, "explode", "input"), str(n, "arrayExpr"), str(n, "as"))
    case "agg"     => AggSpec(child(n, "agg", "input"), strs(n, "keys"), namedExprs(n, "aggs"))
    case "sort"    => SortSpec(child(n, "sort", "input"), strs(n, "keys"))
    case "window"  => WindowNodeSpec(child(n, "window", "input"), str(n, "function"),
                        str(n, "as"), strs(n, "partitionBy"), strs(n, "orderBy"),
                        str(n, "frame"))
    case "distinct" => DistinctSpec(child(n, "distinct", "input"), strs(n, "keys"), strs(n, "order"))
    case "limit"   => LimitSpec(child(n, "limit", "input"), req(n, "limit", "n").asInt)
    case "join"    => JoinSpec(child(n, "join", "input"), child(n, "join", "vocab"),
                        str(n, "leftKey"), str(n, "rightKey"), str(n, "joinType", "left"),
                        Option(n.get("broadcastVocab")).forall(_.asBoolean))
    case "joinDetail" => JoinDetailSpec(child(n, "joinDetail", "master"),
                        child(n, "joinDetail", "detail"),
                        str(n, "masterKey"), str(n, "detailKey"), str(n, "as", "details"),
                        strs(n, "detailCols"))
    case "union"   => UnionSpec(req(n, "union", "inputs").elements().asScala.map(parseOp).toSeq)
    case "dedup"   => DedupNodeSpec(child(n, "dedup", "input"), str(n, "idCol"), str(n, "textCol"),
                        str(n, "mode", "near"),
                        Option(n.get("threshold")).map(_.asDouble).getOrElse(0.8))
    case "spanDedup" => SpanDedupNodeSpec(child(n, "spanDedup", "input"), str(n, "idCol"),
                        str(n, "textCol"),
                        Option(n.get("k")).map(_.asInt).getOrElse(16))
    case "semanticDedup" => SemanticDedupNodeSpec(child(n, "semanticDedup", "input"),
                        str(n, "idCol"), str(n, "vecCol"),
                        Option(n.get("k")).map(_.asInt).getOrElse(256),
                        Option(n.get("threshold")).map(_.asDouble).getOrElse(0.95),
                        Option(n.get("maxClusterSize")).map(_.asInt).getOrElse(10000),
                        str(n, "centroids", "kmeans"),
                        str(n, "modelDir", ""))
    case "split"   => SplitNodeSpec(child(n, "split", "input"), str(n, "idCol"),
                        Option(n.get("splits")).map(_.elements().asScala.map(e =>
                          str(e, "name") -> req(e, "split.splits", "weight").asDouble)
                          .toSeq).getOrElse(Nil))
    case "mix"     => MixNodeSpec(child(n, "mix", "input"), str(n, "idCol"), str(n, "stratumCol"),
                        Option(n.get("weights")).map(o =>
                          o.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap)
                          .getOrElse(Map.empty),
                        Option(n.get("defaultWeight")).map(_.asDouble).getOrElse(1.0))
    case "dsir"    => DsirNodeSpec(child(n, "dsir", "input"), child(n, "dsir", "target"),
                        str(n, "idCol"), str(n, "textCol"), req(n, "dsir", "k").asInt,
                        Option(n.get("hexLen")).map(_.asInt).getOrElse(4),
                        Option(n.get("alpha")).map(_.asDouble).getOrElse(0.5),
                        str(n, "salt", "dsir"),
                        str(n, "modelDir", ""))
    case "qualityScore" => QualityScoreNodeSpec(child(n, "qualityScore", "input"),
                        str(n, "textCol"),
                        Option(n.get("weights")).map(_.elements().asScala.map(_.asDouble).toSeq)
                          .getOrElse(Nil))
    case "decontaminate" => DecontamNodeSpec(child(n, "decontaminate", "input"),
                        child(n, "decontaminate", "bench"),
                        str(n, "idCol"), str(n, "textCol"),
                        Option(n.get("n")).map(_.asInt).getOrElse(8),
                        Option(n.get("minHits")).map(_.asInt).getOrElse(1),
                        Option(n.get("hashKeys")).exists(_.asBoolean),
                        Option(n.get("warnBelow")).map(_.asDouble).getOrElse(0.0))
    case "pack"    => PackNodeSpec(child(n, "pack", "input"), str(n, "idCol"), str(n, "textCol"),
                        req(n, "pack", "budgetTokens").asLong,
                        Option(n.get("shards")).map(_.asInt).getOrElse(256))
    case "report"  => ReportNodeSpec(child(n, "report", "input"), str(n, "textCol"),
                        str(n, "groupCol"),
                        Option(n.get("exactDistinct")).forall(_.asBoolean))
    case "annQuery" => AnnQuerySpec(child(n, "annQuery", "input"), str(n, "indexDir"),
                        req(n, "annQuery", "k").asInt,
                        Option(n.get("nprobe")).map(_.asInt).getOrElse(3),
                        Option(n.get("idCol")).map(_.asText).getOrElse("vec_id"),
                        Option(n.get("vecCol")).map(_.asText).getOrElse("embedding"))
    case "layout"  => LayoutNodeSpec(child(n, "layout", "input"), str(n, "layout"), str(n, "path"),
                        strs(n, "cols"),
                        Option(n.get("files")).map(_.asInt).getOrElse(64),
                        Option(n.get("bits")).map(_.asInt).getOrElse(10))
    case "compactStore" => CompactStoreSpec(str(n, "path"), strs(n, "keys"))
    case "deleteIndex" => DeleteIndexSpec(str(n, "indexDir"), child(n, "deleteIndex", "ids"),
                        Option(n.get("idCol")).map(_.asText).getOrElse("vec_id"))
    case "buildIndex" => BuildIndexSpec(child(n, "buildIndex", "input"),
                        str(n, "indexDir"),
                        // defaults mirror BuildIndexSpec: nlist 0 = auto
                        // ⌈√N⌉, normalize true (the cosine operating point)
                        Option(n.get("nlist")).map(_.asInt).getOrElse(0),
                        str(n, "codec", "float"),
                        Option(n.get("normalize")).forall(_.asBoolean),
                        Option(n.get("idCol")).map(_.asText).getOrElse("vec_id"),
                        Option(n.get("vecCol")).map(_.asText).getOrElse("embedding"),
                        str(n, "trainer", "flat"))
    case "spy"     => SpyNodeSpec(child(n, "spy", "input"), str(n, "name"),
                        namedExprs(n, "metrics"),
                        Option(n.get("sampleRate")).map(_.asDouble).getOrElse(0.0))
    case "cache"   => CacheSpec(child(n, "cache", "input"))
    case other     => throw new IllegalArgumentException(s"unknown op discriminator: '$other'")
  }

  /** `{nodes, links}` export for a streaming-ingest spec — the same
    * consumer shape as [[dag]] (the reference exports its DAG for every
    * job type, writers included: `jobs/hi-order/job-pipeline.js:108-151`).
    * Nodes: the file-drop source, the ingest operator, and each sink the
    * round writes (corpus/stores/index); state (the checkpoint) is not a
    * data edge and is omitted.
    */
  def ingestDag(spec: IngestSpec): String = {
    val root = M.createObjectNode()
    val nodes = root.putArray("nodes")
    val links = root.putArray("links")
    def node(id: String, tpe: String): Unit = {
      val n = nodes.addObject(); n.put("id", id); n.put("type", tpe)
    }
    def link(from: String, to: String): Unit = {
      val l = links.addObject(); l.put("source", from); l.put("target", to)
    }
    val kind = kindOf(spec)
    node(spec.source.path, s"source:${spec.source.format}")
    node(kind, s"ingest:$kind")
    link(spec.source.path, kind)
    def sink(path: String, tpe: String): Unit = { node(path, tpe); link(kind, path) }
    spec match {
      case s: QualityIngestSpec     => sink(s.corpusDir, "sink:corpus")
      case s: ImportanceIngestSpec  =>
        node(s.weightsDir, "model:dsirWeights"); link(s.weightsDir, kind)
        sink(s.corpusDir, "sink:corpus")
      case s: MinhashIngestSpec     =>
        sink(s.corpusDir, "sink:corpus"); sink(s.storeDir, "store:minhashSigs")
      case s: SpanIngestSpec        =>
        sink(s.corpusDir, "sink:corpus"); sink(s.storeDir, "store:spanFps")
      case s: SemanticIngestSpec    =>
        sink(s.corpusDir, "sink:corpus"); sink(s.storeDir, "store:assignedVectors")
      case s: VectorIndexIngestSpec => sink(s.indexDir, "store:ivfIndex")
      case s: PretrainIngestSpec    =>
        s.dsirWeightsDir.foreach { w => node(w, "model:dsirWeights"); link(w, kind) }
        sink(s.corpusDir, "sink:corpus")
        sink(s.semStoreDir, "store:assignedVectors")
        sink(s.spanStoreDir, "store:spanFps")
    }
    // `out` is a NODE ID (the batch dag() contract): the sink node a
    // consumer should highlight — the index DIRECTORY for vectorIndex
    // (primarySink's `<indexDir>/cells` is a read path, not a graph node)
    root.put("out", spec match {
      case s: VectorIndexIngestSpec => s.indexDir
      case _ => IngestCompiler.primarySink(spec)
    })
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** A checked-in spec asset from the classpath (resolves regardless of
    * working directory), e.g. `resource("/specs/window_topn.json")`.
    */
  def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  def fromJson(json: String): PipelineSpec = {
    val root = M.readTree(json)
    val nodes = req(root, "pipeline", "nodes").elements().asScala.map { n =>
      str(n, "name") -> parseOp(req(n, s"node '${str(n, "name")}'", "spec"))
    }.toSeq
    PipelineSpec(nodes, str(root, "out"))
  }

  // --- streaming-ingest specs ----------------------------------------------

  private def srcNode(s: StreamSourceSpec): ObjectNode = {
    val n = M.createObjectNode()
    n.put("format", s.format); n.put("path", s.path)
    val o = n.putObject("options"); s.options.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    n
  }

  private def parseSrc(n: JsonNode): StreamSourceSpec = {
    val opts = Option(n.get("options")).map(o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
    // the source's own fields are REQUIRED too — a typo'd "path" key must
    // fail here, not as a cryptic empty-Path error after Spark startup.
    // JSON null counts as missing (NullNode.asText is the STRING "null" —
    // without the isNull check a null path would read a directory
    // literally named ./null)
    def req(f: String): String = {
      val v = Option(n.get(f)).filterNot(_.isNull).map(_.asText).getOrElse("")
      if (v.isEmpty) throw new IllegalArgumentException(
        s"ingest spec source missing required field '$f'")
      v
    }
    StreamSourceSpec(req("format"), req("path"), opts)
  }

  private def putDoubles(n: ObjectNode, f: String, vs: Seq[Double]): Unit = {
    val a = n.putArray(f); vs.foreach(a.add)
  }
  // strict numeric parse: Jackson's asDouble coerces strings/nulls to 0.0,
  // which would let a typo'd weight pass the required-field check as a
  // silently-zeroed model — exactly what the strict parse exists to stop
  private def numOf(e: JsonNode, f: String): JsonNode = {
    if (!e.isNumber) throw new IllegalArgumentException(
      s"ingest spec field '$f' must be numeric, got: $e")
    e
  }
  private def doubles(n: JsonNode, f: String): Seq[Double] =
    Option(n.get(f)).map(_.elements().asScala.map(numOf(_, f).asDouble).toSeq).getOrElse(Nil)

  // centroid floats serialize via Float.toString (shortest round-trip
  // form), so text → float parse recovers the exact pinned bits
  private def putCentroids(n: ObjectNode, cents: Seq[(Int, Seq[Float])]): Unit = {
    val a = n.putArray("centroids")
    cents.foreach { case (cell, vec) =>
      val o = a.addObject(); o.put("cell", cell)
      val v = o.putArray("vec"); vec.foreach(v.add)
    }
  }
  private def parseCentroids(n: JsonNode): Seq[(Int, Seq[Float])] =
    Option(n.get("centroids")).map(_.elements().asScala.map { c =>
      numOf(Option(c.get("cell")).getOrElse(M.nullNode()), "centroids.cell").asInt ->
        Option(c.get("vec")).map(_.elements().asScala
            .map(numOf(_, "centroids.vec").floatValue).toSeq)
          .getOrElse(throw new IllegalArgumentException(
            "ingest spec field 'centroids' entry missing 'vec'"))
    }.toSeq).getOrElse(Nil)

  /** The JSON `kind` discriminator for each ingest shape — the streaming
    * counterpart of the reference's Job `type` field.
    */
  private def kindOf(spec: IngestSpec): String = spec match {
    case _: QualityIngestSpec     => "quality"
    case _: ImportanceIngestSpec  => "importance"
    case _: MinhashIngestSpec     => "minhashDedup"
    case _: SpanIngestSpec        => "spanDedup"
    case _: SemanticIngestSpec    => "semanticDedup"
    case _: VectorIndexIngestSpec => "vectorIndex"
    case _: PretrainIngestSpec    => "pretrain"
  }

  private def ingestNode(spec: IngestSpec): ObjectNode = {
    val n = M.createObjectNode()
    def common(kind: String): Unit = {
      n.put("kind", kind)
      n.set[JsonNode]("source", srcNode(spec.source))
      n.put("checkpointDir", spec.checkpointDir)
    }
    common(kindOf(spec))
    spec match {
      case s: QualityIngestSpec =>
        pairs(n, "textCol" -> s.textCol, "corpusDir" -> s.corpusDir)
        putDoubles(n, "weights", s.weights)
      case s: ImportanceIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "textCol" -> s.textCol,
          "weightsDir" -> s.weightsDir, "corpusDir" -> s.corpusDir)
        // -Infinity (keep everything) encodes by omission, the pretrain
        // convention — Jackson would otherwise emit a non-JSON string
        if (!s.minLogw.isNegInfinity) n.put("minLogw", s.minLogw)
        n.put("hexLen", s.hexLen)
      case s: MinhashIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "textCol" -> s.textCol,
          "corpusDir" -> s.corpusDir, "storeDir" -> s.storeDir)
        n.put("threshold", s.threshold); n.put("compactEvery", s.compactEvery)
      case s: SpanIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "textCol" -> s.textCol,
          "corpusDir" -> s.corpusDir, "storeDir" -> s.storeDir)
        n.put("k", s.k); n.put("compactEvery", s.compactEvery)
      case s: SemanticIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "vecCol" -> s.vecCol,
          "corpusDir" -> s.corpusDir, "storeDir" -> s.storeDir)
        n.put("threshold", s.threshold); n.put("compactEvery", s.compactEvery)
        putCentroids(n, s.centroids)
      case s: VectorIndexIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "vecCol" -> s.vecCol, "indexDir" -> s.indexDir)
        n.put("compactEvery", s.compactEvery)
      case s: PretrainIngestSpec =>
        pairs(n, "idCol" -> s.idCol, "textCol" -> s.textCol, "vecCol" -> s.vecCol,
          "corpusDir" -> s.corpusDir, "semStoreDir" -> s.semStoreDir,
          "spanStoreDir" -> s.spanStoreDir)
        putDoubles(n, "qualityWeights", s.qualityWeights)
        putCentroids(n, s.centroids)
        n.put("semThreshold", s.semThreshold); n.put("spanK", s.spanK)
        s.dsirWeightsDir.foreach(n.put("dsirWeightsDir", _))
        // -Infinity (no DSIR gate) is not valid JSON: encode by omission
        if (!s.minLogw.isNegInfinity) n.put("minLogw", s.minLogw)
        n.put("compactEvery", s.compactEvery); n.put("maxDocChars", s.maxDocChars)
    }
    n
  }

  /** Serialize a streaming-ingest spec; the root `ingest` field is the
    * batch-vs-stream discriminator [[isIngestJson]]/`graft.RunSpec` key on.
    */
  def ingestToJson(spec: IngestSpec): String = {
    val root = M.createObjectNode()
    root.set[JsonNode]("ingest", ingestNode(spec))
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def isIngestJson(json: String): Boolean =
    Option(M.readTree(json).get("ingest")).isDefined

  def ingestFromJson(json: String): IngestSpec = {
    val n = Option(M.readTree(json).get("ingest"))
      .getOrElse(throw new IllegalArgumentException("not an ingest spec: no 'ingest' field"))
    val kind = str(n, "kind")
    // REQUIRED fields fail the PARSE with the field name — this surface
    // exists for hand-authored JSON, where a typo'd key silently becoming
    // "" would send a corpus to the working directory or dedup against an
    // empty model; only genuinely optional knobs carry defaults
    def req(f: String): String = {
      // JSON null counts as missing, like the source fields above
      val v = Option(n.get(f)).filterNot(_.isNull).map(_.asText).getOrElse("")
      if (v.isEmpty) throw new IllegalArgumentException(
        s"ingest spec ($kind) missing required field '$f'")
      v
    }
    val source = parseSrc(Option(n.get("source")).getOrElse(
      throw new IllegalArgumentException(s"ingest spec ($kind) missing required field 'source'")))
    def reqDoubles(f: String): Seq[Double] = {
      val v = doubles(n, f)
      if (v.isEmpty) throw new IllegalArgumentException(
        s"ingest spec ($kind) missing required field '$f' (non-empty array)")
      v
    }
    def reqCentroids(): Seq[(Int, Seq[Float])] = {
      val v = parseCentroids(n)
      if (v.isEmpty) throw new IllegalArgumentException(
        s"ingest spec ($kind) missing required field 'centroids' (non-empty array)")
      v
    }
    lazy val ckpt = req("checkpointDir")
    // for the OPTIONAL knobs an explicit JSON null means "use the default"
    def int(f: String, default: Int): Int =
      Option(n.get(f)).filterNot(_.isNull).map(numOf(_, f).asInt).getOrElse(default)
    def dbl(f: String, default: Double): Double =
      Option(n.get(f)).filterNot(_.isNull).map(numOf(_, f).asDouble).getOrElse(default)
    kind match {
      case "quality" =>
        QualityIngestSpec(source, req("textCol"), reqDoubles("weights"),
          req("corpusDir"), ckpt)
      case "importance" =>
        ImportanceIngestSpec(source, req("idCol"), req("textCol"),
          req("weightsDir"), dbl("minLogw", Double.NegativeInfinity),
          req("corpusDir"), ckpt, int("hexLen", 4))
      case "minhashDedup" =>
        MinhashIngestSpec(source, req("idCol"), req("textCol"),
          dbl("threshold", 0.8), req("corpusDir"), req("storeDir"), ckpt,
          int("compactEvery", 0))
      case "spanDedup" =>
        SpanIngestSpec(source, req("idCol"), req("textCol"),
          int("k", 16), req("corpusDir"), req("storeDir"), ckpt,
          int("compactEvery", 0))
      case "semanticDedup" =>
        SemanticIngestSpec(source, req("idCol"), req("vecCol"),
          reqCentroids(), dbl("threshold", 0.95),
          req("corpusDir"), req("storeDir"), ckpt, int("compactEvery", 0))
      case "vectorIndex" =>
        VectorIndexIngestSpec(source, req("idCol"), req("vecCol"),
          req("indexDir"), ckpt, int("compactEvery", 0))
      case "pretrain" =>
        PretrainIngestSpec(source, req("idCol"), req("textCol"),
          req("vecCol"), reqDoubles("qualityWeights"), reqCentroids(),
          dbl("semThreshold", 0.95), int("spanK", 16),
          req("corpusDir"), req("semStoreDir"), req("spanStoreDir"), ckpt,
          Option(n.get("dsirWeightsDir")).filterNot(_.isNull).map(_.asText),
          dbl("minLogw", Double.NegativeInfinity),
          int("compactEvery", 0), int("maxDocChars", 0))
      case other => throw new IllegalArgumentException(s"unknown ingest kind: '$other'")
    }
  }

  // --- DAG export -----------------------------------------------------------

  /** `{nodes: [{id, type}], links: [{source, target}]}` — same consumer
    * shape as the reference's d3/Sankey export (`tests/jobs.js:440-507`).
    */
  def dag(spec: PipelineSpec): String = {
    val root = M.createObjectNode()
    val nodes = root.putArray("nodes")
    val links = root.putArray("links")
    var anon = 0
    def visit(op: OpSpec, selfId: String): Unit = {
      def childId(child: OpSpec): String = child match {
        case RefSpec(name) => name
        case _ => { anon += 1; val id = s"${selfId}__in$anon"; visit(child, id); id }
      }
      def link(from: OpSpec): Unit = {
        val l = links.addObject(); l.put("source", childId(from)); l.put("target", selfId)
      }
      val n = nodes.addObject(); n.put("id", selfId)
      n.put("type", op.getClass.getSimpleName.stripSuffix("Spec").toLowerCase)
      op.inputs.foreach(link)
    }
    spec.nodes.foreach { case (name, op) => visit(op, name) }
    root.put("out", spec.out)
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}
