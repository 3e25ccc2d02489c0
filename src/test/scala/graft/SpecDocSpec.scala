package graft

import org.apache.spark.sql.functions._
import graft.plans._

/** docs/SPECS.md is executable documentation: every fenced ```json block
  * must parse as a spec, round-trip through the serializer, and RUN —
  * the batch example compiles and returns rows against a generated
  * fixture, the ingest example drains a round and appends its corpus.
  * A schema change that invalidates the doc fails here, not in a user's
  * terminal. The probe and main names cited in the sources, the README and
  * the skills are held to the same standard: each must name a class that
  * exists, so deleting a tool cannot leave a recipe pointing at nothing.
  */
class SpecDocSpec extends SparkSpec {

  private def docBlocks: Seq[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/SPECS.md")), "UTF-8")
    "(?s)```json\\s*(.*?)```".r.findAllMatchIn(text).map(_.group(1)).toSeq
  }

  test("every json example in docs/SPECS.md parses and round-trips") {
    val blocks = docBlocks
    assert(blocks.size == 4, s"expected 4 json examples, found ${blocks.size}")
    blocks.foreach { json =>
      if (SpecJson.isIngestJson(json)) {
        val spec = SpecJson.ingestFromJson(json)
        assert(SpecJson.ingestFromJson(SpecJson.ingestToJson(spec)) == spec)
      } else {
        val spec = SpecJson.fromJson(json)
        assert(SpecJson.fromJson(SpecJson.toJson(spec)) == spec)
        assert(spec.nodes.exists(_._1 == spec.out), "out must name a node")
      }
    }
  }

  test("the batch example compiles and runs against a fixture") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spec_doc").toString
    Seq((1L, "view", 5.0), (1L, "buy", 20.0), (2L, "buy", 15.0), (2L, "view", 2.0))
      .toDF("user_id", "event_type", "value")
      .write.parquet(s"$root/events")
    Seq(("view", "View"), ("buy", "Purchase")).toDF("event_type", "label")
      .write.parquet(s"$root/vocab")
    val spec = SpecJson.fromJson(docBlocks.filterNot(SpecJson.isIngestJson).head)
    val out = PipelineCompiler.compile(spec, spark, Map("root" -> root))
    try {
      val rows = out.orderBy("user_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(rows.map(r => r.getLong(r.fieldIndex("n"))).toSeq == Seq(1L, 1L),
        "only value > 10 survives the filter")
    } finally PipelineCompiler.unpersistCompiledCaches()
  }

  test("the window example keeps each user's top-2 events by value") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spec_doc_win").toString
    Seq((1L, "view", 5.0), (1L, "buy", 20.0), (1L, "cart", 9.0),
        (2L, "buy", 15.0), (2L, "view", 2.0))
      .toDF("user_id", "event_type", "value")
      .write.parquet(s"$root/events")
    // the window example is the batch block that carries a "window" op
    val spec = SpecJson.fromJson(docBlocks.filterNot(SpecJson.isIngestJson)
      .find(_.contains("\"window\"")).get)
    val out = PipelineCompiler.compile(spec, spark, Map("root" -> root))
      .orderBy("user_id", "rn")
      .select("user_id", "event_type").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "buy"), (1L, "cart"), (2L, "buy"), (2L, "view")))
  }

  test("the spy example passes the stream through and reports its metrics") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spec_doc_spy").toString
    Seq((1L, "view", 5.0), (1L, "buy", 20.0), (2L, "buy", 15.0), (2L, "view", -1.0))
      .toDF("user_id", "event_type", "value")
      .write.parquet(s"$root/events")
    val spec = SpecJson.fromJson(docBlocks.filterNot(SpecJson.isIngestJson)
      .find(_.contains("\"spy\"")).get)
    val observed =
      new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = PipelineCompiler.compile(spec, spark, Map("root" -> root))
        .orderBy("user_id").select("user_id", "n").as[(Long, Long)].collect().toSeq
      assert(out == Seq((1L, 2L), (2L, 1L)), s"got $out")
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      val m = observed.get("after_filter")
      assert(m != null, s"spy metrics not observed (saw ${observed.keySet()})")
      assert(m.getAs[Long]("rows") == 3 && m.getAs[Long]("big") == 2)
      assert(math.abs(m.getAs[Double]("mean_value") - 40.0 / 3) < 1e-9)
    } finally spark.listenerManager.unregister(l)
  }

  test("the ingest example drains a round against a fixture") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spec_doc_ingest").toString
    (1L to 5L).map(i => (i, s"doc $i unique words ${"w" + i} " * 20))
      .toDF("doc_id", "text")
      .write.parquet(s"$root/drop")
    val spec = SpecJson.ingestFromJson(docBlocks.filter(SpecJson.isIngestJson).head)
    IngestCompiler.runAvailable(spark, spec, Map("root" -> root))
    assert(spark.read.parquet(s"$root/corpus").count() == 5)
  }

  test("every tool or main named in the sources, README and skills resolves to a class") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def under(root: String, keep: Path => Boolean): Seq[Path] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && keep(p)).toSeq
    val files = under("src", _.toString.endsWith(".scala")) ++
      under(".claude/skills", _ => true) ++ Seq(Paths.get("README.md"))
    val toolRef = "tools[./]([A-Z]\\w*)".r
    val mainRef = "runMain (graft(?:\\.\\w+)+)".r
    val linkRef = "\\[\\[(graft(?:\\.\\w+)+)\\]\\]".r
    val refs = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      (toolRef.findAllMatchIn(text).map(m => s"graft.tools.${m.group(1)}") ++
        mainRef.findAllMatchIn(text).map(_.group(1))).map(_ -> f.toString)
    }
    // fully qualified scaladoc links in the sources
    val links = under("src", _.toString.endsWith(".scala")).flatMap { f =>
      linkRef.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1) -> f.toString)
    }
    assert(refs.exists(_._1 == "graft.tools.SemTrainProbe"), s"walk found too little: $refs")
    assert(links.exists(_._1 == "graft.operators.VectorIndex"), s"walk found too little: $links")
    val loader = getClass.getClassLoader
    def load(name: String) = scala.util.Try(Class.forName(name, false, loader)).toOption
    // a class, an object or a nested type: `a.B.C` may be `a.B$C`, and an
    // object compiles to a `$`-suffixed class
    def types(name: String): Seq[Class[_]] = {
      val parts = name.split('.')
      (1 to math.min(3, parts.length - 1)).flatMap { nested =>
        val outer = parts.dropRight(nested - 1).mkString(".")
        val binary = (outer +: parts.takeRight(nested - 1)).mkString("$")
        Seq(binary, binary + "$").flatMap(load)
      }
    }
    def isPackage(name: String) = loader.getResource(name.replace('.', '/')) != null
    // a link names a package, a type, or a member of a type: a method, a
    // field or a nested type, as the compiled class declares it
    def linkResolves(link: String): Boolean = types(link).nonEmpty || isPackage(link) || {
      val (owner, member) = (link.take(link.lastIndexOf('.')), link.drop(link.lastIndexOf('.') + 1))
      types(owner).exists { c =>
        (c.getDeclaredMethods.map(_.getName) ++ c.getDeclaredFields.map(_.getName))
          .exists(n => n == member || n.endsWith("$$" + member))
      }
    }
    val dangling = (refs.filterNot { case (name, _) => load(name).isDefined } ++
      links.filterNot { case (link, _) => linkResolves(link) }).distinct
    assert(dangling.isEmpty,
      "references to classes or members that do not exist: " +
        dangling.map { case (n, f) => s"$n ($f)" }.mkString(", "))
  }
  test("no scaladoc block in src/main is stacked directly on another") {
    // Scaladoc attaches only the LAST of two stacked doc blocks to the
    // definition below them, so the first drops out of the API docs, and
    // -Xlint:doc-detached does not report it
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"walk found too little: ${sources.size} files")
    val stacked = sources.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.dropRight(1).collect {
        case i if lines(i).trim.endsWith("*/") && lines(i + 1).trim.startsWith("/**") =>
          s"$f:${i + 2}"
      }
    }
    assert(stacked.isEmpty, "doc blocks stacked on another doc block: " + stacked.mkString(", "))
  }
}
