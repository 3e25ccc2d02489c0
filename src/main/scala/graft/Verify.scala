package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only; the driver passes two): run only queries
    // whose name contains the given substring — fast single-query iteration
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [nameFilter]")
        sys.exit(2)
    }
    // Same planner config (AQE, broadcast threshold, UTC) as Bench/production
    // — the correctness gate must exercise the plans the engine actually runs.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.filter { case (name, _) => only.forall(name.contains) }
    attempted.foreach { case (name, fn) =>
      // a result left by an earlier run must not stand in for this one: a
      // query that throws leaves NO committed result, which the compare
      // counts as a failure
      val out = Paths.get(s"$outDir/$name")
      if (Files.exists(out))
        Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracles only for the queries this run attempted (all of them with the
    // driver's two arguments), so every oracle key expects a result here
    val json = SparkEntry.oracleSql.filter { case (k, _) => attempted.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // hard exit: gate queries may leave per-JVM non-daemon service threads
    // behind (the DSv2 paged-HTTP gate's in-process page server) — without
    // this the dump is complete but the JVM never terminates
    sys.exit(0)
  }
}
