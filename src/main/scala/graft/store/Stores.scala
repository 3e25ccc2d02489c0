package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Every protocol of a parquet store on disk, in one place: what counts as
  * committed data, how a store is read, how a rewrite swaps a new
  * generation in (whole directory or per partition) and how an interrupted
  * swap heals, how an append-only tier is snapshotted for maintenance, and
  * when scheduled maintenance runs. The stores are the streaming ingests'
  * sinks and dedup stores ([[graft.streaming.Streams]]), the vector index's
  * tiers ([[graft.operators.VectorIndex]]) and the spec compiler's model
  * assets; those modules decide WHAT to write, this one decides how it
  * lands and how a reader sees it.
  *
  * On-disk names: a whole-directory rewrite of `dir` stages at
  * `dir.compact.tmp` and parks the old generation at `dir.compact.old`; a
  * per-partition rewrite stages under `dir/.purge.tmp` and parks the old
  * partitions under `dir/.purge.old` (dot-prefixed, so readers skip them).
  */
object Stores {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is `st` committed data of a parquet directory — a `.parquet` file or
    * a partition directory? Committer metadata (`_SUCCESS`, `_temporary`,
    * `.crc` siblings) is not: a first write that crashed mid-way leaves a
    * directory holding only `_temporary`, and reading it would throw.
    */
  private def isDataEntry(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    !name.startsWith("_") && !name.startsWith(".") &&
      (st.isDirectory || name.endsWith(".parquet"))
  }

  /** Does the parquet directory `dir` exist and hold committed data
    * ([[isDataEntry]])?
    */
  private def hasCommittedData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p).exists(isDataEntry)
  }

  /** The one store reader: heal an interrupted swap ([[heal]]), then read
    * the store, or None while it holds no committed data (never written, a
    * first write that crashed, or a tier retired by maintenance). A bare
    * `spark.read.parquet` would treat a mid-swap store as EMPTY and
    * silently forget, say, a dedup store's whole history. The store is
    * listed, not probed by a failing read: Spark reports a failed read to
    * every query-execution listener, so a probe logged a failed query on
    * each first round.
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    heal(spark, dir)
    if (hasCommittedData(spark, dir)) Some(readParquet(spark, dir)) else None
  }

  /** `spark.read.parquet(paths: _*)` without its schema job. Spark's
    * non-merging schema inference opens ONE data file's footer, in a job
    * of its own, and takes the Spark schema its writer stored there; this
    * reads one data file's footer on the driver and hands that schema to
    * `spark.read.schema`. Partition columns (the vector index's `cell=N`
    * directories) are still discovered from the paths, with the same
    * inferred types. A footer without a Spark schema (a file another
    * writer made), a path holding no `.parquet` file, or a session that
    * merges schemas reads through inference, as before.
    */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths.map(new Path(_))) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The Spark schema in the footer of the first data file under `paths`. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[Path]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else paths.iterator.flatMap(p => firstDataFile(fsOf(spark, p), p)).nextOption().flatMap { st =>
      import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
      val footer = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
        .readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
          spark.sparkContext.hadoopConfiguration), SKIP_ROW_GROUPS)
      Option(footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)).flatMap { json =>
        scala.util.Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }
      }
    }

  // where Spark's parquet writer stores the row schema (ParquetReadSupport.SPARK_METADATA_KEY)
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `p` itself when it is a file, else the first `.parquet` file under
    * it, descending through partition directories; None when there is
    * none (or `p` does not exist — the inference read then reports it).
    */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val st = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    st.flatMap { s =>
      if (s.isFile) Some(s)
      else {
        val (files, dirs) = fs.listStatus(p).filter(isDataEntry).partition(_.isFile)
        files.headOption
          .orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
      }
    }
  }

  /** Finish or roll back whatever swap a crash interrupted in `dir` — a
    * whole-directory rewrite ([[rewriteStore]]) first, then a
    * per-partition one ([[swapPartitions]]). Idempotent, and a no-op on a
    * healthy store. Returns whether `dir` exists afterwards.
    */
  def heal(spark: SparkSession, dir: String): Boolean = {
    recoverStore(spark, dir)
    recoverPartitions(spark, dir)
    val p = new Path(dir)
    fsOf(spark, p).exists(p)
  }

  // ---- whole-directory swap --------------------------------------------

  /** Keyed-distinct compaction of a store directory. The streaming ingests
    * append the corpus FIRST and their dedup store second (see
    * [[graft.streaming.IngestPlan.sinks]]): a crash in between makes
    * the checkpoint replay append the same rows AGAIN, so after an unclean
    * restart a store carries duplicate keys — harmless to correctness
    * (readers `dropDuplicates`), but the store grows and every later batch
    * pays the duplicate scan. Compaction rewrites the store keyed-distinct
    * under [[rewriteStore]]'s swap (`keys`: `"fp"` for span stores, `"id"`
    * for signature and semantic stores — duplicate keys carry identical
    * payloads by construction, so keep-any is exact). Returns (rowsBefore,
    * rowsAfter).
    */
  def compactStore(spark: SparkSession, storeDir: String, keys: Seq[String]): (Long, Long) =
    rewriteStore(spark, storeDir)((df, out) => df.dropDuplicates(keys).write.parquet(out))

  /** The crash-safe whole-store rewrite: heal a prior interrupted swap,
    * write the rewritten generation to `.compact.tmp` via `rewrite`, then
    * swap it in (two renames) and drop the old generation. Stores with a
    * non-flat layout (the cell-PARTITIONED vector index) pass their own
    * writer. Returns (rowsBefore, rowsAfter).
    */
  def rewriteStore(spark: SparkSession, storeDir: String)(
      rewrite: (DataFrame, String) => Unit): (Long, Long) = {
    heal(spark, storeDir)
    val dir = new Path(storeDir)
    val fs = fsOf(spark, dir)
    val before = readParquet(spark, storeDir)
    val rows0 = before.count()
    val (tmp, old) = generations(storeDir)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    rewrite(before, tmp.toString)
    val rows1 = readParquet(spark, tmp.toString).count()
    // swap: two renames, then drop the old generation. A crash BETWEEN the
    // renames leaves the canonical path empty (data at .compact.old /
    // .compact.tmp) — readers go through [[read]], which heals the swap
    // before concluding the store is absent.
    if (!fs.rename(dir, old) || !fs.rename(tmp, dir))
      throw new java.io.IOException(s"rewriteStore: rename swap failed for $storeDir")
    fs.delete(old, true)
    (rows0, rows1)
  }

  private def generations(storeDir: String): (Path, Path) = {
    val base = storeDir.stripSuffix("/")
    (new Path(base + ".compact.tmp"), new Path(base + ".compact.old"))
  }

  /** Heal a store directory left mid-swap by an interrupted
    * [[rewriteStore]]: if the canonical path is missing but a swap
    * generation survives, restore it — prefer `.compact.tmp` (the fully
    * written new generation; the swap only starts after its rows are
    * re-counted), falling back to `.compact.old` (the original). No-op
    * when the canonical path exists (leftover generations are cleaned by
    * the next rewrite).
    */
  private def recoverStore(spark: SparkSession, storeDir: String): Unit = {
    val dir = new Path(storeDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) {
      val (tmp, old) = generations(storeDir)
      if (fs.exists(tmp)) {
        if (!fs.rename(tmp, dir))
          throw new java.io.IOException(s"recoverStore: rename failed for $storeDir")
        if (fs.exists(old)) fs.delete(old, true)
      } else if (fs.exists(old)) {
        if (!fs.rename(old, dir))
          throw new java.io.IOException(s"recoverStore: rename failed for $storeDir")
      }
    }
  }

  // ---- per-partition swap ----------------------------------------------

  /** Replace the partitions `parts` (partition directory names, e.g.
    * `cell=3`) of the partitioned store `dir` without touching the rest:
    * `stage(out)` writes the new content of exactly those partitions,
    * partitioned the same way, under the hidden root `dir/.purge.tmp`;
    * then, one partition at a time, the canonical directory moves into
    * `dir/.purge.old` and the staged one into its place. A partition that
    * `stage` leaves unwritten is retired. The caller decides what the new
    * content is; [[heal]] finishes or rolls back a swap cut short.
    *
    * The whole swap holds the lease `dir/.purge.lease` ([[withLease]]):
    * a [[heal]] — every reader of the store runs one — leaves a store
    * under a live lease alone. Without it, a reader healing between
    * `stage` and the first rename took the staged survivors for a crashed
    * swap's leftovers and deleted them, and the swap then retired every
    * touched partition. A second swap of the same store fails fast while
    * the lease is live; a crashed swap's lease goes stale after
    * [[SwapLeaseStaleMs]], and the next heal or swap recovers the store.
    * `beforeSwap` is a test seam firing between `stage` and the renames.
    */
  def swapPartitions(spark: SparkSession, dir: String, parts: Seq[String],
                     beforeSwap: () => Unit = () => ())(stage: String => Unit): Unit = {
    val (tmpRoot, oldRoot) = (new Path(dir, ".purge.tmp"), new Path(dir, ".purge.old"))
    val fs = fsOf(spark, tmpRoot)
    withLease(fs, new Path(dir, ".purge.lease"), SwapLeaseStaleMs) { (holder, _) =>
      new IllegalStateException(s"swapPartitions: $dir is being rewritten by [$holder]; " +
        "run one maintenance pass per store at a time")
    } {
      healPartitions(fs, dir) // a crashed swap's leftovers, under our lease
      stage(tmpRoot.toString)
      beforeSwap()
      fs.mkdirs(oldRoot)
      parts.foreach { name =>
        val canonical = new Path(dir, name)
        if (fs.exists(canonical) && !fs.rename(canonical, new Path(oldRoot, name)))
          throw new java.io.IOException(s"swapPartitions: retire of $canonical failed")
        val staged = new Path(tmpRoot, name)
        if (fs.exists(staged) && !fs.rename(staged, canonical))
          throw new java.io.IOException(s"swapPartitions: swap of $canonical failed")
      }
      fs.delete(tmpRoot, true)
      fs.delete(oldRoot, true)
    }
  }

  /** How long a crashed [[swapPartitions]]' lease keeps heals away: the
    * live swap heartbeats it every quarter of this.
    */
  private[graft] val SwapLeaseStaleMs = 60000L

  /** Heal a [[swapPartitions]] interrupted mid-swap, unless a live swap
    * holds the store's lease ([[healPartitions]]).
    */
  private def recoverPartitions(spark: SparkSession, dir: String): Unit = {
    val lease = new Path(dir, ".purge.lease")
    val fs = fsOf(spark, lease)
    if (leaseAge(fs, lease).forall(_ >= SwapLeaseStaleMs)) healPartitions(fs, dir)
  }

  /** For each partition left in `.purge.old`: a present canonical
    * directory means that partition's swap finished (drop the old copy);
    * an absent canonical with a staged twin means the crash hit between
    * the two renames (finish the swap); an absent canonical with NO staged
    * twin is either a legitimately retired partition or the same crash
    * window — ROLL BACK (restore the old copy), so the caller's retry
    * redoes the rewrite. Then the staging root goes.
    */
  private def healPartitions(fs: FileSystem, dir: String): Unit = {
    val (tmpRoot, oldRoot) = (new Path(dir, ".purge.tmp"), new Path(dir, ".purge.old"))
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).filter(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        val canonical = new Path(dir, name)
        val tmp = new Path(tmpRoot, name)
        if (fs.exists(canonical)) () // this partition's swap completed
        else if (fs.exists(tmp)) {
          if (!fs.rename(tmp, canonical)) throw new java.io.IOException(
            s"healPartitions: rename $tmp -> $canonical failed")
        } else {
          if (!fs.rename(st.getPath, canonical)) throw new java.io.IOException(
            s"healPartitions: rollback of $canonical failed")
        }
      }
      fs.delete(oldRoot, true)
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
  }

  // ---- advisory lease --------------------------------------------------

  /** Milliseconds since the lease file `lock` was last heartbeat, or None
    * when there is no lease.
    */
  private def leaseAge(fs: FileSystem, lock: Path): Option[Long] =
    try Some(System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Run `body` holding the advisory lease file `lock`.
    *
    * The lease is created CREATE-EXCLUSIVE (the filesystem arbitrates a
    * same-instant race) holding `pid/host/started`, and a daemon thread
    * refreshes its mtime every `staleMs / 4` while `body` runs; it is
    * deleted after. A live lease (mtime younger than `staleMs`) makes the
    * taker fail with `busy(holder, Some(age))`, and losing the create race
    * with `busy(holder, None)`. A STALE lease is a crashed holder (kill -9
    * skips the delete): reclaim goes through an atomic rename to a
    * taker-unique tombstone — of N racing reclaimers exactly one rename
    * succeeds, and everyone then re-enters the create-exclusive gate, so a
    * reclaim can never delete a lease another taker just created.
    */
  private[graft] def withLease[T](fs: FileSystem, lock: Path, staleMs: Long)(
      busy: (String, Option[Long]) => Exception)(body: => T): T = {
    def holder: String =
      try {
        val in = fs.open(lock)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } catch { case _: Exception => "<unreadable holder>" }
    leaseAge(fs, lock).foreach { age =>
      if (age < staleMs) throw busy(holder, Some(age))
      val tomb = lock.suffix(s".reclaimed.${ProcessHandle.current().pid()}")
      if (fs.rename(lock, tomb)) fs.delete(tomb, false)
    }
    val out =
      try fs.create(lock, false)
      catch { case _: java.io.IOException => throw busy(holder, None) }
    val me = s"pid=${ProcessHandle.current().pid()} " +
      s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"started=${java.time.Instant.now()}"
    try out.write(me.getBytes("UTF-8")) finally out.close()
    val hb = new Thread(() => {
      val interval = math.max(200L, staleMs / 4)
      try while (!Thread.interrupted()) {
        Thread.sleep(interval)
        // refresh mtime only; a transient FS error just skips one beat
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: Exception => () }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${lock.hashCode()}")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      hb.interrupt()
      try { fs.delete(lock, false); () } catch { case _: Exception => () }
    }
  }

  // ---- append-only tier snapshot ---------------------------------------

  /** Committed data files of an append-only tier at this instant — the
    * snapshot unit of maintenance isolation: a maintenance pass folds or
    * purges and then deletes EXACTLY these files
    * ([[removeTierSnapshot]]), so a batch appended while it runs stays in
    * the tier untouched (a whole-directory delete silently lost such a
    * batch). Append filenames are committer-UUID'd, so a concurrent batch
    * can never collide with a snapshot name.
    */
  private[graft] def listTierDataFiles(spark: SparkSession, tierPath: String): Seq[Path] = {
    val p = new Path(tierPath)
    if (!heal(spark, tierPath)) Nil
    else fsOf(spark, p).listStatus(p).toSeq.filter(st => st.isFile && isDataEntry(st)).map(_.getPath)
  }

  /** Remove exactly the snapshot's files; then retire the directory ONLY
    * when nothing but committer metadata (`_SUCCESS`, checksum siblings)
    * remains — a concurrent append's `_temporary` directory or committed
    * batch keeps the tier alive. This is what makes maintenance safe to
    * run beside a live appender.
    */
  private[graft] def removeTierSnapshot(spark: SparkSession, tierPath: String,
                                        snapshot: Seq[Path]): Unit = {
    if (snapshot.isEmpty) return
    val fs = fsOf(spark, snapshot.head)
    snapshot.foreach(f => fs.delete(f, false))
    val p = new Path(tierPath)
    val leftovers = fs.listStatus(p)
    val metadataOnly = leftovers.forall { st =>
      val name = st.getPath.getName
      st.isFile && (name.startsWith("_") || name.startsWith("."))
    }
    if (metadataOnly) {
      // retire the quiescent tier WITHOUT a recursive delete: remove the
      // metadata files we just listed, then a NON-recursive dir delete —
      // anything a concurrent appender created after the listing
      // (_temporary, a committed batch) makes the dir non-empty, the
      // delete fails harmlessly, and the tier stays alive. A recursive
      // delete here would re-open the data-loss race in a narrower window
      // (list → delete TOCTOU).
      leftovers.foreach(st => fs.delete(st.getPath, false))
      try fs.delete(p, false)
      catch { case _: java.io.IOException => () } // concurrent arrival keeps the tier
    }
  }

  // ---- scheduled maintenance -------------------------------------------

  /** Every-N-batches store maintenance at the fully-applied point of a
    * micro-batch (see [[graft.streaming.IngestPlan.maintenance]]): each
    * `(dir, maintain)` runs `maintain(spark, dir)`
    * when the store exists after [[heal]]. An absent store (never built,
    * or every batch so far empty) has nothing to maintain, and reading it
    * would throw and kill the streaming query.
    */
  private[graft] def maybeCompact(spark: SparkSession, batchId: Long, compactEvery: Int,
      stores: Seq[(String, (SparkSession, String) => Unit)]): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      stores.foreach { case (dir, maintain) => if (heal(spark, dir)) maintain(spark, dir) }
}
