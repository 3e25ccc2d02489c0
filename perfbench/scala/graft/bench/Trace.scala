package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer: maps, sequences, strings, numbers, booleans, null. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Host pressure and process counters read from `/proc` and the JVM.
  *
  * Busy jiffies are user+nice+system+irq+softirq (idle, iowait and steal
  * excluded; guest time is already folded into user/nice). Co-tenant load
  * is the host's busy CPU minus this process's own CPU per wall second;
  * hypervisor steal is kept separate because it grows with our own load.
  * USER_HZ is taken as 100.
  */
object Host {
  private def cpuLine(): Array[Long] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty }

  /** (busy jiffies, steal jiffies); (-1, -1) when unreadable. */
  def jiffies(): (Long, Long) = {
    val f = cpuLine()
    if (f.length < 8) (-1L, -1L)
    else (f.take(8).sum - f(3) - f(4) - f(7), f(7))
  }

  def selfCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** A measurement window: co-tenant and steal cores averaged over it. */
  final class Window {
    private val (busy0, steal0) = jiffies()
    private val self0 = selfCpuNs()
    private val t0 = System.nanoTime()

    def otherCores(): Double = {
      val (busy1, _) = jiffies(); val self1 = selfCpuNs()
      val wall = (System.nanoTime() - t0) / 1e9
      if (busy0 < 0 || busy1 < 0 || self0 < 0 || self1 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((busy1 - busy0) * 0.010 - (self1 - self0) / 1e9) / wall)
    }

    def stealCores(): Double = {
      val (_, steal1) = jiffies()
      val wall = (System.nanoTime() - t0) / 1e9
      if (steal0 < 0 || steal1 < 0 || wall <= 0) -1.0 else (steal1 - steal0) * 0.010 / wall
    }
  }
}

/** One recorded call into a module. Executor counters are filled by the
  * [[Tracer]]'s listener from the jobs that carried this span's id.
  */
final class Span(val id: Int, val name: String, val parent: Int, val round: Int,
                 val tag: String) {
  @volatile var startNs: Long = 0L
  @volatile var endNs: Long = 0L
  var gcMs: Long = 0L
  var jitMs: Long = 0L
  val jobs = new AtomicInteger
  val taskNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillDiskBytes = new AtomicLong
  val tasksFailed = new AtomicInteger

  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into the engine.
  *
  * A span is opened on the driver thread; its id rides the local property
  * [[Tracer.Prop]], which Spark copies into every job the call launches
  * (including jobs from threads the call starts, such as a streaming
  * query's), so the listener attributes executor work to the innermost
  * open span. All spans stay in memory until [[spans]] is read at the end
  * of the run. When disabled, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val recs = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private var open: List[Span] = Nil
  private val origin = System.nanoTime()
  private var overhead = 0L
  /** Round the next spans belong to: >= 0 timed, -1 traced extras,
    * [[Tracer.SetupRound]] set-up and warm-up.
    */
  @volatile var round: Int = SetupRound

  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val jobInfo = new ConcurrentHashMap[Int, (Span, String, Long)]
  /** (node, round, job start ms, job end ms) for `spec:<node>` jobs. */
  val nodeJobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
        .flatMap(id => Option(byId.get(id))).foreach { s =>
          s.jobs.incrementAndGet()
          e.stageIds.foreach(st => stageSpan.put(st, s))
          val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull
          jobInfo.put(e.jobId, (s, desc, e.time))
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (s, desc, start) =>
        if (desc != null && desc.startsWith("spec:"))
          nodeJobs.add((desc.stripPrefix("spec:"), s.round, start, e.time))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.taskNs.addAndGet(m.executorRunTime * 1000000L)
          s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillDiskBytes.addAndGet(m.diskBytesSpilled)
        }
        if (e.reason != Success) s.tasksFailed.incrementAndGet()
      }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `<layer>.<call>`; `tag` names the query
    * or node the call serves.
    */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val o0 = System.nanoTime()
      val sc = spark.sparkContext
      val s = new Span(recs.size, name, open.headOption.map(_.id).getOrElse(-1), round, tag)
      recs += s
      byId.put(s.id, s)
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      val gc0 = Host.gcMs(); val jit0 = Host.jitMs()
      s.startNs = System.nanoTime()
      overhead += s.startNs - o0
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = Host.gcMs() - gc0
        s.jitMs = Host.jitMs() - jit0
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
        overhead += System.nanoTime() - s.endNs
      }
    }

  /** Record an already-measured interval as a root span (for work done
    * before the tracer existed, such as session start).
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val s = new Span(recs.size, name, -1, round, "")
      s.startNs = startNs
      s.endNs = endNs
      recs += s
      byId.put(s.id, s)
    }

  /** Driver time spent in span bookkeeping, in seconds. */
  def overheadS: Double = overhead / 1e9

  /** All spans, after draining the listener bus so executor counts are in. */
  def spans: Seq[Span] = {
    if (enabled) org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    recs.toSeq
  }

  def toJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
    "round" -> s.round, "tag" -> s.tag,
    "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
    "jobs" -> s.jobs.get, "task_s" -> s.taskNs.get / 1e9,
    "shuffle_write_mb" -> s.shuffleWriteBytes.get / 1e6,
    "spill_disk_mb" -> s.spillDiskBytes.get / 1e6, "tasks_failed" -> s.tasksFailed.get,
    "gc_s" -> s.gcMs / 1e3, "jit_s" -> s.jitMs / 1e3)
}

object Tracer {
  val Prop = "graft.bench.span"
  val SetupRound: Int = -2
}
