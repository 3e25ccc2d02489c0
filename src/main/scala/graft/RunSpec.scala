package graft

/** Spec-file runner — the reference's persisted-job UX
  * (`jobs/hi-order/job-pipeline.js:86-106`: save a pipeline once, run it
  * later without writing code) as a CLI over the JSON round-tripping the
  * compiler already does:
  *
  * {{{
  * runMain graft.RunSpec <spec.json> [--param k=v]... [--out dir] [--show n] [--explain] [--dag]
  * }}}
  *
  * `--param` values substitute `{%k%}` placeholders at compile time, the
  * same resolution the programmatic API uses (environment variables cover
  * the `$VAR` form, as in the reference's config loading). With `--out`
  * the result is written as parquet; with `--explain` the compiled
  * physical plan prints instead of executing (the plan-audit twin of
  * `SpecJson.dag`'s logical export); with `--stages` every node's row
  * count prints in spec order (which stage ate my rows? — executes each
  * stage once, reusing `cache` barriers); otherwise the first `--show`
  * rows (default 20) print to stdout. Any `spy` nodes' observed metrics
  * print after the action (the reference's persisted-job spy read-out).
  * Exits nonzero on a broken spec.
  *
  * A spec whose root carries an `ingest` field is a STREAMING-ingest spec
  * ([[graft.plans.IngestSpec]]): the runner performs ONE incremental
  * ingest round — `readStream` over the spec's file-drop source,
  * `Trigger.AvailableNow`, block until drained — then prints the primary
  * sink's row count and exits. Re-running the same spec resumes from its
  * checkpoint and processes only newly-arrived files, so a scheduler
  * invoking this CLI periodically IS the production ingest loop. Where
  * no scheduler is available, `--rounds N [--sleep seconds]` runs N
  * such rounds in one process (sleeping between rounds, default 60 s) —
  * each round is the same drain-and-exit unit, so killing the process
  * between rounds loses nothing the checkpoint doesn't recover. After
  * the last round, `--report <groupCol>` prints the corpus's data card
  * ([[graft.operators.CorpusStats.corpusReport]] grouped by that column
  * — `{%var%}` placeholders resolve) for the text-bearing ingest kinds.
  * `--out`/`--show`/`--explain` on an ingest spec exit 2 (sinks live in
  * the spec itself — silently ignoring them would mislead).
  *
  * `--dag` prints the spec's `{nodes, links}` graph (the reference's
  * `getLinkedJobs` Sankey export) for EITHER kind and exits without
  * touching Spark — placeholders print unresolved, so the export
  * describes the persisted artifact, not one environment's run.
  */
object RunSpec {

  /** Parsed CLI configuration — produced by [[parseArgs]], pure and
    * unit-testable (main owns the printing and exit codes).
    */
  private[graft] case class Config(specPath: String,
                                   params: Map[String, String] = Map.empty,
                                   out: Option[String] = None,
                                   // None = flag absent: main defaults batch
                                   // display to 20 rows, and an ingest spec
                                   // can reject an EXPLICIT --show
                                   show: Option[Int] = None,
                                   explain: Boolean = false,
                                   stages: Boolean = false,
                                   dag: Boolean = false,
                                   rounds: Int = 1,
                                   sleepSec: Long = 60L,
                                   report: Option[String] = None)

  /** Left(error message) on a malformed command line. */
  private[graft] def parseArgs(args: Array[String]): Either[String, Config] = {
    if (args.isEmpty) return Left("missing <spec.json>")
    var c = Config(args.head)
    var i = 1
    def operand(flag: String): Either[String, String] =
      if (i + 1 >= args.length) Left(s"$flag needs a value") else Right(args(i + 1))
    while (i < args.length) {
      val step: Either[String, Config] = args(i) match {
        case "--param" => operand("--param").flatMap { v =>
          v.split("=", 2) match {
            case Array(k, value) if k.nonEmpty =>
              i += 2; Right(c.copy(params = c.params + (k -> value)))
            case _ => Left("--param expects k=v with a non-empty key")
          }
        }
        case "--out" => operand("--out").map { v => i += 2; c.copy(out = Some(v)) }
        case "--show" => operand("--show").flatMap(_.toIntOption.filter(_ >= 0)
          .toRight("--show expects a non-negative integer")
          .map { v => i += 2; c.copy(show = Some(v)) })
        case "--explain" => i += 1; Right(c.copy(explain = true))
        case "--stages"  => i += 1; Right(c.copy(stages = true))
        case "--dag"     => i += 1; Right(c.copy(dag = true))
        case "--rounds" => operand("--rounds").flatMap(_.toIntOption.filter(_ >= 1)
          .toRight("--rounds expects a positive integer")
          .map { v => i += 2; c.copy(rounds = v) })
        case "--sleep" => operand("--sleep").flatMap(_.toLongOption.filter(_ >= 0)
          .toRight("--sleep expects a non-negative integer (seconds)")
          .map { v => i += 2; c.copy(sleepSec = v) })
        case "--report" => operand("--report").map { v => i += 2; c.copy(report = Some(v)) }
        case other => Left(s"unknown argument '$other'")
      }
      step match {
        case Right(next) => c = next
        case Left(err)   => return Left(err)
      }
    }
    Right(c)
  }

  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println(
        "usage: graft.RunSpec <spec.json> [--param k=v]... [--out dir] [--show n] " +
          "[--explain] [--stages] [--dag] [--rounds n [--sleep seconds]] [--report groupCol]")
      sys.exit(2)
    }
    val Config(specPath, params, out, show, explain, stages, dag, rounds,
        sleepSec, report) =
      parseArgs(args) match {
        case Right(c)  => c
        case Left(err) => System.err.println(err); usage()
      }
    // errors must reach an EXPLICIT nonzero exit: a spec can start per-JVM
    // services (paged-HTTP sources spawn a non-daemon dispatcher), and an
    // exception propagating out of main would leave the JVM hanging on
    // that thread instead of failing — same rationale as the success-path
    // sys.exit below (the Verify/Bench convention)
    try {
      val json = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(specPath)), "UTF-8")
      // parse BEFORE any Spark startup: a broken spec fails in
      // milliseconds, not after a ~10 s session build
      val parsed: Either[plans.PipelineSpec, plans.IngestSpec] =
        if (plans.SpecJson.isIngestJson(json)) Right(plans.SpecJson.ingestFromJson(json))
        else Left(plans.SpecJson.fromJson(json))
      if (dag) {
        // pure spec → graph transformation, no Spark session needed
        println(parsed.fold(plans.SpecJson.dag, plans.SpecJson.ingestDag))
        sys.exit(0)
      }
      if (rounds > 1 && parsed.isLeft) {
        // argument errors fail before Spark startup, like parse errors
        System.err.println("--rounds applies only to ingest specs " +
          "(a batch pipeline re-run computes the same result)")
        sys.exit(2)
      }
      if (report.isDefined && parsed.isLeft) {
        System.err.println("--report applies only to ingest specs " +
          "(a batch pipeline can add a 'report' node instead)")
        sys.exit(2)
      }
      if (report.isDefined && parsed.exists(_.plan.corpusTextCol.isEmpty)) {
        System.err.println("--report needs a text-bearing ingest kind " +
          "(semanticDedup / vectorIndex corpora carry vectors, not text)")
        sys.exit(2)
      }
      // symmetric with the --rounds/--report checks above: batch-only
      // flags on an ingest spec exit 2 instead of being silently ignored
      // (a user expecting --out to redirect the corpus needs a signal)
      if (parsed.isRight && (out.isDefined || explain || stages || show.isDefined)) {
        System.err.println("--out/--show/--explain/--stages apply only to batch " +
          "pipeline specs (an ingest spec's sinks live in the spec itself)")
        sys.exit(2)
      }
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      val spark = GraftSession.builder(master = s"local[$cpus]",
        shufflePartitions = cpus.toInt).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      parsed match {
        case Right(ingest) =>
          val sink = plans.PipelineCompiler.substitute(
            plans.IngestCompiler.primarySink(ingest), params)
          for (r <- 1 to rounds) {
            if (r > 1 && sleepSec > 0) Thread.sleep(sleepSec * 1000L)
            plans.IngestCompiler.runAvailable(spark, ingest, params)
            println(s"ingest round $r/$rounds drained")
          }
          // count the sink ONCE at the end — a per-round count would
          // re-list and re-read footers of the whole cumulative corpus
          // every round. A round whose every batch was filtered to
          // nothing never creates the sink — a healthy zero, not an error
          val n = graft.store.Stores.read(spark, sink).fold(0L)(_.count())
          println(s"$sink now holds $n rows")
          // one more corpus scan, only when asked: the post-round data
          // card. A report failure (typo'd groupCol) must NOT fail the
          // run — the rounds already committed; a scheduler wrapper
          // should see the ingest's success, not exit 1 after a day of
          // successful hourly rounds
          for (g <- report if n > 0; tc <- ingest.plan.corpusTextCol)
            try graft.operators.CorpusStats.corpusReport(
                spark.read.parquet(sink),
                plans.PipelineCompiler.substitute(tc, params),
                plans.PipelineCompiler.substitute(g, params))
              .orderBy("group").show(100, truncate = false)
            catch { case e: Exception =>
              System.err.println(s"--report failed (ingest succeeded): ${e.getMessage}")
            }
        case Left(spec) => graft.exec.Scope.withCacheScope {
          // spy-node delivery: collect every named observed metric the
          // run's actions produce and print them after — the reference's
          // spy output riding a persisted job (`jobs/job.js:99-116`). The
          // listener bus is async, so it drains before the read-out.
          val observed =
            new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
          val spyListener = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
              qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
          }
          spark.listenerManager.register(spyListener)
          try {
          if (stages) {
            // per-node row counts in spec order — the debugging question a
            // pipeline author asks first ("which stage ate my rows?").
            // Counting EXECUTES each stage once; nodes at/below a `cache`
            // barrier reuse the filled cache, everything else recomputes
            // from its nearest barrier — expect roughly one pipeline run
            // per uncached tail, not per node
            val nodes = plans.PipelineCompiler.compileNodes(spec, spark, params)
            val width = spec.nodes.map(_._1.length).max
            spec.nodes.foreach { case (name, _) =>
              println(s"%-${width}s %12d rows".format(name, nodes(name).count()))
            }
          } else {
            val df = plans.PipelineCompiler.compile(spec, spark, params)
            if (explain) df.explain("formatted")
            else out match {
              case Some(dir) =>
                df.write.mode("overwrite").parquet(dir)
                println(s"wrote ${spark.read.parquet(dir).count()} rows to $dir")
              case None => df.show(show.getOrElse(20), truncate = false)
            }
          }
          } finally {
            org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
            spark.listenerManager.unregister(spyListener)
            import scala.jdk.CollectionConverters._
            val metrics = observed.asScala.toSeq.sortBy(_._1)
            if (metrics.nonEmpty) {
              println("observed metrics (spy nodes):")
              metrics.foreach { case (name, row) =>
                val kv = row.schema.fieldNames.zip(row.toSeq)
                  .map { case (f, v) => s"$f=$v" }.mkString(", ")
                println(s"  $name: $kv")
              }
            }
          }
        }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"RunSpec failed: ${e.getMessage}")
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}
