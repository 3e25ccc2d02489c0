package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.{IngestPlan, Quality, Semantic, Span, Streams}

/** Store-growth ladder for the composed streaming ingest
  * ([[graft.plans.PretrainIngestSpec]]'s stage list): per-batch wall time as
  * the semantic/span stores accumulate. The 100 TB claim under test is
  * that every per-batch cost is DELTA-bound — the semantic tier prunes
  * the store to the delta's cells, the span tier semi-joins fp-only —
  * so batch N should cost ~the same as batch 1 even though the stores
  * hold N× the state. Synthetic corpus: seeded word-salad docs over a
  * 2k-word vocabulary plus 64-dim direction vectors; 5% of each batch
  * duplicates an earlier batch's direction (×2-scaled — exact semantic
  * dups) and 5% repeats a previous doc's leading 16-token window (span
  * boilerplate), so both stores do real per-batch work. Feeds the
  * streaming row in SCALING.md.
  */
object IngestLadder {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val nBatches = args.headOption.map(_.toInt).getOrElse(8)
    val batchRows = args.drop(1).headOption.map(_.toInt).getOrElse(5000)
    val dim = 64
    val rnd = new java.util.Random(42)
    val vocab = Array.tabulate(2000) { i =>
      val sb = new StringBuilder; var x = i
      val len = 3 + (i % 8)
      while (sb.length < len) { sb.append(('a' + x % 26).toChar); x = x / 26 + 7 }
      sb.toString
    }
    def mkVec(): Seq[Float] = Seq.fill(dim)((rnd.nextGaussian() * 0.5).toFloat)
    def mkText(): String = Seq.fill(80)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    // rolling banks of earlier material for the planted dup pressure
    val vecBank = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    val headBank = scala.collection.mutable.ArrayBuffer.empty[String]
    def mkBatch(b: Int): Seq[(Long, String, Seq[Float])] = (0 until batchRows).map { i =>
      val id = b.toLong * batchRows + i
      val vec =
        if (i % 20 == 0 && vecBank.nonEmpty) // 5%: exact semantic dup (×2 scale)
          vecBank(rnd.nextInt(vecBank.size)).map(_ * 2f)
        else { val v = mkVec(); if (vecBank.size < 20000) vecBank += v; v }
      val text =
        if (i % 20 == 1 && headBank.nonEmpty) // 5%: repeated leading window
          headBank(rnd.nextInt(headBank.size)) + " " + mkText()
        else { val t = mkText()
          if (headBank.size < 20000) headBank += t.split(" ").take(16).mkString(" ")
          t }
      (id, text, vec)
    }
    val work = java.nio.file.Files.createTempDirectory("ingest_ladder").toString
    // permissive quality weights (bias-only accept): this ladder measures
    // the tier mechanics' cost, not the classifier's selectivity
    val qw = Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val cents = (0 until 64).map(c => (c, mkVec())) // pinned coarse cells
    val in = MemoryStream[(Long, String, Seq[Float])]
    // every-N-batches store compaction (VERDICT r12 next #8): bounds the
    // sinks' file counts as the ingest runs; 0 disables
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_INGEST_COMPACT_EVERY", "4").toInt
    val q = Streams.ingest(in.toDF().toDF("doc_id", "text", "embedding"),
      IngestPlan("doc_id", "text", "embedding", Seq(Quality(qw), Semantic(s"$work/sem", cents, 0.95),
          Span(s"$work/span", 16, joinBack = true)),
        Some(s"$work/corpus"), s"$work/ckpt", compactEvery))
    def files(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0)
    try {
      for (b <- 0 until nBatches) {
        val rows = mkBatch(b)
        val t0 = System.nanoTime()
        in.addData(rows: _*)
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val sem = spark.read.parquet(s"$work/sem").count()
        val span = spark.read.parquet(s"$work/span").count()
        println(f"LADDER ingest batch=$b%2d rows=$batchRows $secs%6.2f s " +
          f"semStore=$sem%8d spanFps=$span%9d " +
          f"files(corpus/sem/span)=${files(s"$work/corpus")}%3d/${files(s"$work/sem")}%3d/${files(s"$work/span")}%3d")
      }
    } finally q.stop()
    spark.stop(); sys.exit(0)
  }
}
