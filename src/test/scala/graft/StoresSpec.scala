package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.store.{LocalStoreFileSystem, LocalStoreFs, Stores}

/** Store I/O on local disk: the footer-schema reader returns what schema
  * inference returns without its job, and the engine's `file:` filesystem
  * writes the same bits and checksums as Hadoop's, without forking.
  */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Jobs `body` launches. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val out = try { val r = body; org.apache.spark.sql.graft.Bridge.flushListenerBus(spark); r }
      finally spark.sparkContext.removeSparkListener(listener)
    (out, jobs.get)
  }

  test("the footer-schema read equals schema inference, without its job") {
    val root = tmp("stores_footer")
    // a flat store of two appends, with nested, nullable and array columns
    val flat = s"$root/flat"
    Seq((1L, "a", Seq(1f, 2f), Option(1.5)), (2L, "b", Seq.empty[Float], None))
      .toDF("id", "text", "vec", "score").withColumn("meta", struct(col("id"), col("text")))
      .write.parquet(flat)
    Seq((3L, "c", Seq(3f), Option(2.5))).toDF("id", "text", "vec", "score")
      .withColumn("meta", struct(col("id"), col("text"))).write.mode("append").parquet(flat)
    // a cell-partitioned tier: the partition column is appended from the paths
    val cells = s"$root/cells"
    (0 until 40).map(i => (i.toLong, i % 3, Seq(i.toFloat))).toDF("id", "cell", "vec")
      .write.partitionBy("cell").parquet(cells)
    val snapshot = new java.io.File(flat).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    for (paths <- Seq(Seq(flat), Seq(cells), snapshot)) {
      val inferred = spark.read.parquet(paths: _*)
      val (read, jobs) = jobsOf(Stores.readParquet(spark, paths: _*))
      assert(read.schema == inferred.schema, s"$paths: ${read.schema} vs ${inferred.schema}")
      assert(jobs == 0, s"$paths: $jobs jobs")
      assert(read.collect().map(_.toString).sorted.sameElements(
        inferred.collect().map(_.toString).sorted))
    }
    assert(Stores.readParquet(spark, cells).schema("cell").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a parquet file another writer made carries no Spark schema: inference
    val foreign = s"$sf/embeddings.parquet"
    assert(Stores.footerSchema(spark, Seq(new Path(foreign))).isEmpty)
    assert(Stores.readParquet(spark, foreign).schema == spark.read.parquet(foreign).schema)
  }

  test("the session's file: scheme resolves to the engine's filesystem, same bits and .crc") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[LocalStoreFileSystem])
    assert(new Path("/tmp").getFileSystem(conf).isInstanceOf[LocalStoreFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[LocalStoreFs])
    // the same operations through Hadoop's own local filesystem and through
    // the engine's leave the same mode bits (sticky bit included) and the
    // same checksum siblings
    val stockConf = new org.apache.hadoop.conf.Configuration(conf)
    stockConf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    val stock = FileSystem.newInstance(new java.net.URI("file:///"), stockConf)
    try {
      assert(!stock.isInstanceOf[LocalStoreFileSystem])
      def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
      def layout(fs: FileSystem, root: String): Map[String, Int] = {
        val r = new Path(root)
        fs.create(new Path(r, "a/plain"), true).close()
        fs.create(new Path(r, "a/private"), perm("600"), true, 4096, 1.toShort,
          1L << 20, null).close()
        fs.mkdirs(new Path(r, "b/c"), perm("750"))
        fs.mkdirs(new Path(r, "sticky"))
        fs.setPermission(new Path(r, "sticky"), perm("1777"))
        fs.setPermission(new Path(r, "a/plain"), perm("640"))
        val base = Paths.get(root)
        val walk = Files.walk(base)
        try walk.iterator().asScala.filter(_ != base).map { p =>
          base.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
        }.toMap
        finally walk.close()
      }
      val (a, b) = (tmp("stock_fs"), tmp("engine_fs"))
      val mine = layout(FileSystem.get(new java.net.URI("file:///"), conf), b)
      assert(layout(stock, a) == mine)
      assert(mine.keySet.contains("a/.plain.crc") && mine.keySet.contains("a/.private.crc"))
      assert((mine("sticky") & 0xfff) == Integer.parseInt("1777", 8))
    } finally stock.close()
    // a store the session writes keeps Hadoop's default file bits and a
    // checksum sibling per committed file
    val store = s"${tmp("engine_store")}/s"
    Seq((1L, "x"), (2L, "y")).toDF("id", "text").write.parquet(store)
    val files = new java.io.File(store).listFiles().map(_.getName).toSet
    val parts = files.filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(p => files.contains(s".$p.crc")), s"$files")
    val expected = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf))
    parts.foreach { p =>
      val mode = Files.getAttribute(Paths.get(store, p), "unix:mode").asInstanceOf[Int] & 0x1ff
      assert(mode == expected.toShort, f"$p: $mode%o vs ${expected.toShort}%o")
    }
  }
}
