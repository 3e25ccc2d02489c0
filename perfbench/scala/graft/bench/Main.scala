package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed iteration of a workload's closed loop ("round").
  *
  * @param wallS    the round's wall
  * @param compileS the part of it spent building plans before the round's
  *                 output actions (jobs the builders launch eagerly count)
  * @param rows     input rows the round processed
  * @param error    the exception text when the round threw
  * @param check    what the output checks need about this round
  */
final case class Op(wallS: Double, compileS: Double, rows: Long, error: String,
                    check: Map[String, Any])

/** @param inputs the directory `gen.py` wrote the workload's inputs to
  * @param params workload parameters passed on the command line
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: String, inputs: String,
                     params: Map[String, String])

trait Workload {
  /** Untimed warm-up on a small slice of the same seed's inputs. */
  def warmup(): Unit
  def round(i: Int): Op
  /** Upper bound on rounds one run may take (the inputs staged for it). */
  def maxRounds: Int = Int.MaxValue
  /** What the output checks need beyond the rounds. */
  def checkInfo: Map[String, Any]
  /** Per-layer measurements taken after the timed loop, traced runs only. */
  def extras(): Map[String, Double]
  /** Per-layer figures derived from the rounds' spans. */
  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double]
}

/** Benchmark driver inside the JVM: session, warm-up, the timed closed
  * loop (one client), cache hygiene between rounds, then a JSON result file
  * for `run.py`, which generated the inputs, checks the outputs and prints
  * the metrics.
  *
  * Args: `--workload W --seconds S --trace 0|1 --work DIR --inputs DIR
  *        --out FILE --trace-out FILE --run-id ID [--<param> V]...`.
  */
object Main {
  def hygiene(spark: SparkSession): Unit = {
    graft.operators.Dedup.unpersistCaches()
    graft.plans.PipelineCompiler.unpersistCompiledCaches()
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Waits, up to 10 s, until the JIT compilers go idle (under 10 % of one
    * compiler thread over 250 ms), so methods queued during the warm-up
    * compile before the timed rounds instead of competing with them for the
    * host's four cores.
    */
  def settleJit(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var prev = Host.jitMs()
    var idle = false
    while (!idle && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = Host.jitMs()
      idle = now - prev < 25
      prev = now
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val name = opt("workload")
    val seconds = opt("seconds").toDouble; val traced = opt.get("trace").contains("1")
    val work = opt("work")
    val host = new Host.Window
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, traced, opt("run-id"))
    tracer.record("session.start", t0, System.nanoTime())
    val ctx = Ctx(spark, tracer, work, opt("inputs"), opt)
    val w: Workload = name match {
      case "llm_v3" => new LlmV3(ctx)
      case "ingest_serve" => new IngestServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val w0 = System.nanoTime()
    tracer.span("bench.warmup")(w.warmup())
    hygiene(spark)
    settleJit()
    val warmupS = (System.nanoTime() - w0) / 1e9

    // the timed closed loop: rounds until their summed wall reaches `seconds`
    val ops = ArrayBuffer.empty[Op]
    var timed = 0.0
    while (ops.isEmpty || (timed < seconds && ops.size < w.maxRounds)) {
      tracer.round = ops.size
      val r0 = System.nanoTime()
      val op = try tracer.span("bench.round")(w.round(ops.size))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] round ${ops.size} failed: $e")
          Op((System.nanoTime() - r0) / 1e9, 0.0, 0L, String.valueOf(e), Map.empty) }
      ops += op
      timed += op.wallS
      hygiene(spark)
    }
    tracer.round = -1

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val extra = w.extras()
        hygiene(spark)
        val spans = tracer.spans
        // module calls directly under a round, against the rounds' timed wall
        val roundSpans = spans.filter(_.name == "bench.round").map(_.id).toSet
        val top = spans.filter(s => roundSpans.contains(s.parent))
        write(opt("trace-out"), spans.map(s => Json(tracer.toJson(s))).mkString("[\n", ",\n", "\n]\n"))
        extra ++ w.layerMetrics(spans, ops.toSeq) ++ Layers.exec(spans) ++ Map(
          "session.start_s" -> sessionS,
          "bench.warmup_s" -> warmupS,
          "host.other_cores" -> host.otherCores(),
          "host.steal_cores" -> host.stealCores(),
          "trace.overhead_frac" -> tracer.overheadS / timed,
          "trace.span_coverage" -> top.map(_.wallS).sum / timed)
      }

    val result = Map(
      "session_start_s" -> sessionS, "warmup_s" -> warmupS,
      "ops" -> ops.map(o => Map("wall_s" -> o.wallS, "compile_s" -> o.compileS,
        "rows" -> o.rows, "error" -> o.error, "check" -> o.check)),
      "peak_rss_mb" -> Host.peakRssMb(),
      "other_cores" -> host.otherCores(), "steal_cores" -> host.stealCores(),
      "check" -> w.checkInfo, "per_layer" -> layers)
    write(opt("out"), Json(result))
    spark.stop()
    // hard exit: engine services (streaming, page servers) may leave
    // non-daemon threads behind
    sys.exit(0)
  }
}

/** Per-layer figures shared by every workload. */
object Layers {
  val Modules = Seq("sources", "plans", "operators", "functions", "streaming", "sinks")

  /** Executor and JVM counters per module, summed over the module's spans
    * and divided by the number of rounds (the traced extras pass counts as
    * one round) the module was called in.
    */
  def exec(spans: Seq[Span]): Map[String, Double] = Modules.flatMap { m =>
    val ss = spans.filter(s => s.layer == m && s.round != Tracer.SetupRound)
    val n = math.max(1, ss.map(_.round).distinct.size).toDouble
    Seq(
      s"exec.$m.task_s" -> ss.map(_.taskNs.get / 1e9).sum / n,
      s"exec.$m.shuffle_write_mb" -> ss.map(_.shuffleWriteBytes.get / 1e6).sum / n,
      s"exec.$m.spill_disk_mb" -> ss.map(_.spillDiskBytes.get / 1e6).sum / n,
      s"exec.$m.tasks_failed" -> ss.map(_.tasksFailed.get.toDouble).sum / n,
      s"jvm.$m.gc_s" -> ss.map(_.gcMs / 1e3).sum / n,
      s"jvm.$m.jit_s" -> ss.map(_.jitMs / 1e3).sum / n)
  }.toMap

  /** Median over rounds of `f` applied to each timed round's spans. */
  def perRound(spans: Seq[Span])(f: Seq[Span] => Double): Double =
    Main.median(spans.filter(_.round >= 0).groupBy(_.round).values.map(f).toSeq)

  /** Bytes and data files under `dir` (0 when absent). */
  def du(dir: String): (Long, Int) = {
    val f = new java.io.File(dir)
    if (!f.exists()) (0L, 0)
    else {
      val files = java.nio.file.Files.walk(f.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      (files.map(p => java.nio.file.Files.size(p)).sum, files.count(_.toString.endsWith(".parquet")))
    }
  }

  /** Rows per second of `n` rows through `f`: one warm call, one timed. */
  def rate(n: Long)(f: => Unit): Double = {
    f
    val t0 = System.nanoTime()
    f
    n / ((System.nanoTime() - t0) / 1e9)
  }
}
