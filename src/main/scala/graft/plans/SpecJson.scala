package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.{universe => ru}

/** JSON (de)serialization of pipeline specs — the analogue of the
  * reference's persisted Job documents (`/root/reference/jobs/job.js:49-64`
  * serialize/deserialize; mongoose storage). Specs are stored as plain JSON
  * files/strings instead of MongoDB documents; the `op` field plays the
  * reference's `type` discriminator role (`jobs/job.js:24`).
  *
  * Like the reference's mongoose schema (`jobs/job.js:21-39`), each spec
  * case class is the only declaration of its fields: the writer emits every
  * constructor field under its own name, and the reader rebuilds the class
  * from its primary constructor's parameters — names, full types and
  * default values, read once per class through Scala reflection. What stays
  * per kind is the discriminator table ([[discriminators]]) and how a
  * pair-typed value encodes ([[pairKeys]]). One rule set validates batch
  * and ingest specs alike:
  *  - a parameter without a default is required; JSON `null` counts as
  *    missing, and a missing optional parameter takes its default;
  *  - a string must be a JSON string, non-empty when required;
  *  - `Int`, `Long`, `Double` and `Float` values must be JSON numbers, a
  *    `Boolean` a JSON boolean;
  *  - every error is an `IllegalArgumentException` naming the node and the
  *    field.
  * The writer omits only a `None` and a non-finite double (`minLogw =
  * -Infinity`), which the reader defaults back.
  *
  * Also exports the spec DAG as `{nodes, links}` for visualization — the
  * reference's `getLinkedJobs` Sankey export
  * (`/root/reference/jobs/hi-order/job-pipeline.js:108-151`).
  */
object SpecJson {

  private val M = new ObjectMapper()
  private val F = M.getNodeFactory

  /** The `op` of each batch node and the `kind` of each ingest shape. */
  private val discriminators: Map[Class[_], String] = Map(
    classOf[SourceSpec] -> "source", classOf[RefSpec] -> "ref",
    classOf[FilterSpec] -> "filter", classOf[MapSpec] -> "map",
    classOf[WithColumnsSpec] -> "withColumns", classOf[ExplodeSpec] -> "explode",
    classOf[AggSpec] -> "agg", classOf[SortSpec] -> "sort",
    classOf[WindowNodeSpec] -> "window", classOf[DistinctSpec] -> "distinct",
    classOf[LimitSpec] -> "limit", classOf[JoinSpec] -> "join",
    classOf[JoinDetailSpec] -> "joinDetail", classOf[UnionSpec] -> "union",
    classOf[DedupNodeSpec] -> "dedup", classOf[SpanDedupNodeSpec] -> "spanDedup",
    classOf[SemanticDedupNodeSpec] -> "semanticDedup", classOf[SplitNodeSpec] -> "split",
    classOf[MixNodeSpec] -> "mix", classOf[DsirNodeSpec] -> "dsir",
    classOf[QualityScoreNodeSpec] -> "qualityScore",
    classOf[DecontamNodeSpec] -> "decontaminate", classOf[PackNodeSpec] -> "pack",
    classOf[ReportNodeSpec] -> "report", classOf[AnnQuerySpec] -> "annQuery",
    classOf[LayoutNodeSpec] -> "layout", classOf[CompactStoreSpec] -> "compactStore",
    classOf[DeleteIndexSpec] -> "deleteIndex", classOf[BuildIndexSpec] -> "buildIndex",
    classOf[SpyNodeSpec] -> "spy", classOf[CacheSpec] -> "cache",
    classOf[QualityIngestSpec] -> "quality", classOf[ImportanceIngestSpec] -> "importance",
    classOf[MinhashIngestSpec] -> "minhashDedup", classOf[SpanIngestSpec] -> "spanDedup",
    classOf[SemanticIngestSpec] -> "semanticDedup",
    classOf[VectorIndexIngestSpec] -> "vectorIndex", classOf[PretrainIngestSpec] -> "pretrain")

  /** The two keys a pair-typed value encodes under, by its element types. */
  private lazy val pairKeys: Seq[(ru.Type, (String, String))] = Seq(
    ru.typeOf[(String, String)] -> ("name" -> "expr"),
    ru.typeOf[(String, Double)] -> ("name" -> "weight"),
    ru.typeOf[(String, OpSpec)] -> ("name" -> "spec"),
    ru.typeOf[(Int, Seq[Float])] -> ("cell" -> "vec"))

  // --- codecs, derived from the case classes ---------------------------------

  private sealed trait Codec
  private final case class Scalar(what: String, ok: JsonNode => Boolean,
                                  read: JsonNode => Any, write: Any => JsonNode) extends Codec
  private final case class OptOf(of: Codec) extends Codec
  private final case class SeqOf(of: Codec) extends Codec
  private final case class MapOf(of: Codec) extends Codec
  private final case class Pair(k1: String, c1: Codec, k2: String, c2: Codec) extends Codec
  /** A case class written as a plain object. */
  private final case class Record(cls: Class[_]) extends Codec
  /** One of a sealed trait's case classes, named by its `key` field. */
  private final case class Tagged(key: String, byName: Map[String, Class[_]]) extends Codec

  private final case class Field(name: String, codec: Codec, default: Option[Any])
  private final class Shape(val fields: IndexedSeq[Field], ctor: java.lang.reflect.Constructor[_]) {
    def make(args: Seq[Any]): Any = ctor.newInstance(args.map(_.asInstanceOf[AnyRef]): _*)
  }

  private def scalar[T](what: String, ok: JsonNode => Boolean, read: JsonNode => T,
                        write: T => JsonNode): Scalar =
    Scalar(what, ok, read, v => write(v.asInstanceOf[T]))
  private lazy val scalars: Seq[(ru.Type, Scalar)] = Seq(
    ru.typeOf[String] -> scalar[String]("a string", _.isTextual, _.asText, F.textNode),
    ru.typeOf[Int] -> scalar[Int]("a number", _.isNumber, _.asInt, F.numberNode(_: Int)),
    ru.typeOf[Long] -> scalar[Long]("a number", _.isNumber, _.asLong, F.numberNode(_: Long)),
    ru.typeOf[Double] -> scalar[Double]("a number", _.isNumber, _.asDouble, F.numberNode(_: Double)),
    // Float.toString is the shortest decimal that parses back to the same
    // float32, so pinned centroids round-trip bit-exactly
    ru.typeOf[Float] -> scalar[Float]("a number", _.isNumber, _.floatValue, F.numberNode(_: Float)),
    ru.typeOf[Boolean] -> scalar[Boolean]("a boolean", _.isBoolean, _.asBoolean, F.booleanNode))

  private def tagged(key: String, base: Class[_]): Tagged =
    Tagged(key, discriminators.collect { case (c, n) if base.isAssignableFrom(c) => n -> c })
  private val opTag = tagged("op", classOf[OpSpec])
  private val kindTag = tagged("kind", classOf[IngestSpec])
  private val pipeline = Record(classOf[PipelineSpec])

  /** Every spec case class's constructor fields, read once. */
  private lazy val shapes: Map[Class[_], Shape] = {
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    def codecOf(declared: ru.Type): Codec = {
      val t = declared.dealias
      def arg(i: Int) = codecOf(t.typeArgs(i))
      scalars.collectFirst { case (s, c) if t =:= s => c }
        .orElse(pairKeys.collectFirst { case (p, (k1, k2)) if t =:= p => Pair(k1, arg(0), k2, arg(1)) })
        .getOrElse {
          if (t <:< ru.typeOf[Option[Any]]) OptOf(arg(0))
          else if (t <:< ru.typeOf[Map[String, Any]]) MapOf(arg(1))
          else if (t <:< ru.typeOf[Seq[Any]]) SeqOf(arg(0))
          else if (t =:= ru.typeOf[OpSpec]) opTag
          else Record(mirror.runtimeClass(t))
        }
    }
    (discriminators.keys ++ Seq(classOf[StreamSourceSpec], classOf[PipelineSpec])).map { cls =>
      val sym = mirror.classSymbol(cls)
      val companion = mirror.reflectModule(sym.companion.asModule).instance
      val params = sym.primaryConstructor.asMethod.paramLists.head
      cls -> new Shape(params.zipWithIndex.map { case (p, i) =>
        val default = if (!p.asTerm.isParamWithDefault) None
          else Some(companion.getClass.getMethod("$lessinit$greater$default$" + (i + 1))
            .invoke(companion))
        Field(p.name.decodedName.toString, codecOf(p.typeSignature), default)
      }.toIndexedSeq, cls.getConstructors.head)
    }.toMap
  }

  // --- serialization --------------------------------------------------------

  private def write(c: Codec, v: Any): JsonNode = c match {
    case s: Scalar => s.write(v)
    case OptOf(of) => write(of, v.asInstanceOf[Option[Any]].get)
    case SeqOf(of) =>
      val a = F.arrayNode(); v.asInstanceOf[Seq[Any]].foreach(e => a.add(write(of, e))); a
    case MapOf(of) =>
      val o = F.objectNode()
      v.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .foreach { case (k, e) => o.set[JsonNode](k, write(of, e)) }
      o
    case Pair(k1, c1, k2, c2) =>
      val (a, b) = v.asInstanceOf[(Any, Any)]
      val o = F.objectNode()
      o.set[JsonNode](k1, write(c1, a)); o.set[JsonNode](k2, write(c2, b))
      o
    case Tagged(key, _) => writeFields(F.objectNode().put(key, discriminators(v.getClass)), v)
    case Record(_) => writeFields(F.objectNode(), v)
  }

  private def writeFields(o: ObjectNode, v: Any): ObjectNode = {
    val p = v.asInstanceOf[Product]
    shapes(p.getClass).fields.zip(p.productIterator).foreach {
      case (_, None) =>
      case (_, d: Double) if d.isInfinite || d.isNaN => // not JSON: the default restores it
      case (f, x) => o.set[JsonNode](f.name, write(f.codec, x))
    }
    o
  }

  private def pretty(n: JsonNode): String = M.writerWithDefaultPrettyPrinter().writeValueAsString(n)

  def toJson(spec: PipelineSpec): String = pretty(write(pipeline, spec))

  // --- deserialization ------------------------------------------------------

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def required(n: JsonNode, at: String, f: String): JsonNode = {
    val v = n.get(f)
    if (v == null || v.isNull) fail(s"$at: missing required field '$f'")
    v
  }

  /** Where the object `n` (field `f` of `at`) sits; fails unless it is one. */
  private def within(n: JsonNode, at: String, f: String): String = {
    if (!n.isObject) fail(s"$at: field '$f' must be an object, got $n")
    if (f.isEmpty) at else s"$at.$f"
  }

  /** `n` read as `c`: field `f` of the node `at`. */
  private def read(c: Codec, n: JsonNode, at: String, f: String, req: Boolean): Any = c match {
    case s: Scalar =>
      if (!s.ok(n)) fail(s"$at: field '$f' must be ${s.what}, got $n")
      val v = s.read(n)
      if (req && v == "") fail(s"$at: field '$f' must be a non-empty string")
      v
    case OptOf(of) => Some(read(of, n, at, f, req))
    case SeqOf(of) =>
      if (!n.isArray) fail(s"$at: field '$f' must be an array, got $n")
      n.elements.asScala.zipWithIndex.map { case (e, i) => read(of, e, at, s"$f[$i]", false) }.toList
    case MapOf(of) =>
      if (!n.isObject) fail(s"$at: field '$f' must be an object, got $n")
      n.properties.asScala.map(e => e.getKey -> read(of, e.getValue, at, s"$f.${e.getKey}", false)).toMap
    case Pair(k1, c1, k2, c2) =>
      val here = within(n, at, f)
      val a = read(c1, required(n, here, k1), here, k1, true)
      // a named node: its errors name it
      val (at2, f2) = (a, c2) match {
        case (name: String, _: Tagged) => (s"node '$name'", "")
        case _ => (here, k2)
      }
      (a, read(c2, required(n, here, k2), at2, f2, true))
    case Tagged(key, byName) =>
      val here = within(n, at, f)
      val d = required(n, here, key).asText
      byName.get(d) match {
        case Some(cls) => readFields(cls, n, s"$here ($d)")
        case None => fail(s"$here: unknown $key discriminator: '$d'")
      }
    case Record(cls) => readFields(cls, n, within(n, at, f))
  }

  private def readFields(cls: Class[_], n: JsonNode, at: String): Any = {
    val shape = shapes(cls)
    def absent(v: JsonNode) = v == null || v.isNull
    // name every missing field at once: a hand author fixes them in one pass
    val missing = shape.fields.filter(f => f.default.isEmpty && absent(n.get(f.name)))
    if (missing.nonEmpty) fail(s"$at: missing required field " +
      missing.map(f => s"'${f.name}'").mkString(", "))
    shape.make(shape.fields.map { f =>
      val v = n.get(f.name)
      if (absent(v)) f.default.get else read(f.codec, v, at, f.name, f.default.isEmpty)
    })
  }

  def fromJson(json: String): PipelineSpec =
    read(pipeline, M.readTree(json), "pipeline", "", true).asInstanceOf[PipelineSpec]

  // --- {%var%} substitution -------------------------------------------------

  /** `spec` with [[PipelineCompiler.substitute]] applied to every string
    * value — through nested nodes and `Seq`, `Option` and `Map` values
    * (map keys stay as written). Node names, `out` and [[RefSpec]] names
    * name nodes rather than data, and the discriminators are not fields,
    * so all four stay as written. Rebuilt through the constructors, not
    * re-validated: a Scala-built spec compiles exactly as before.
    */
  private[graft] def substitute[T](spec: T, params: Map[String, String]): T = {
    def go(v: Any): Any = v match {
      case s: String => PipelineCompiler.substitute(s, params)
      case _: RefSpec => v
      case PipelineSpec(nodes, out) =>
        PipelineSpec(nodes.map { case (name, op) => name -> go(op).asInstanceOf[OpSpec] }, out)
      case o: Option[_] => o.map(go)
      case m: Map[_, _] => m.map { case (k, x) => k -> go(x) }
      case xs: Seq[_] => xs.map(go)
      case (a, b) => (go(a), go(b))
      case p: Product if shapes.contains(p.getClass) =>
        shapes(p.getClass).make(p.productIterator.map(go).toSeq)
      case _ => v
    }
    if (params.isEmpty) spec else go(spec).asInstanceOf[T]
  }

  /** `{nodes, links}` export for a streaming-ingest spec — the same
    * consumer shape as [[dag]] (the reference exports its DAG for every
    * job type, writers included: `jobs/hi-order/job-pipeline.js:108-151`).
    * Nodes: the file-drop source, the ingest operator, each model a stage
    * reads from disk, and each sink the round writes (the corpus, then each
    * stage's store in stage order); state (the checkpoint) is not a data
    * edge and is omitted.
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
    val kind = discriminators(spec.getClass)
    node(spec.source.path, s"source:${spec.source.format}")
    node(kind, s"ingest:$kind")
    link(spec.source.path, kind)
    def sink(path: String, tpe: String): Unit = { node(path, tpe); link(kind, path) }
    val plan = spec.plan
    plan.stages.collect { case d: graft.streaming.Dsir => d.weightsDir }
      .foreach { w => node(w, "model:dsirWeights"); link(w, kind) }
    plan.corpusDir.foreach(sink(_, "sink:corpus"))
    val stores = plan.stages.flatMap(_.store)
    stores.foreach(s => sink(s.dir, s"store:${s.kind}"))
    // `out` is a NODE ID (the batch dag() contract): the sink node a
    // consumer should highlight — the corpus, else the last store (the
    // index DIRECTORY, not primarySink's `<indexDir>/cells` read path)
    root.put("out", plan.corpusDir.getOrElse(stores.last.dir))
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

  // --- streaming-ingest specs ----------------------------------------------

  /** Serialize a streaming-ingest spec; the root `ingest` field is the
    * batch-vs-stream discriminator [[isIngestJson]]/`graft.RunSpec` key on.
    */
  def ingestToJson(spec: IngestSpec): String =
    pretty(F.objectNode().set[JsonNode]("ingest", write(kindTag, spec)))

  def isIngestJson(json: String): Boolean =
    Option(M.readTree(json).get("ingest")).isDefined

  def ingestFromJson(json: String): IngestSpec = {
    val n = Option(M.readTree(json).get("ingest"))
      .getOrElse(fail("not an ingest spec: no 'ingest' field"))
    read(kindTag, n, "ingest spec", "", true).asInstanceOf[IngestSpec]
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
