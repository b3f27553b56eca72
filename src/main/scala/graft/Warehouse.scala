package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one artifact store: everything graft keeps beyond a single query.
  *   - Warehouse artifacts: managed tables whose names carry a content
  *     fingerprint of their source files ([[sourceFingerprint]]), built
  *     once ([[buildOnce]]), retired when the source changes, and swept at
  *     session end ([[warehouseHygiene]]).
  *   - Tmpdir artifacts: the same build-once discipline for layouts kept
  *     as plain parquet dirs under `java.io.tmpdir` ([[tmpDirOnce]]).
  *   - Session memos ([[Memo]]): values too costly to rebuild per query
  *     (readers, schemas, derived frames), keyed by session. Every
  *     namespace shares one lock and one lifecycle.
  */
object Warehouse {

  /** Hex MD5 (first `bytes` bytes) over the sorted `path:len:mtime` of
    * every file under `paths`, recursively. The walk uses `listStatus`,
    * not `listFiles`: `listFiles` wraps each file in a
    * `LocatedFileStatus`, whose constructor reads the permission (a forked
    * `ls -ld` per file on a host without `libhadoop`) and which carries
    * block locations nothing here reads. Same files, same paths, same
    * digest.
    */
  private[graft] def listingFp(spark: SparkSession, paths: Seq[String], bytes: Int): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("MD5")
    paths.foreach { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      def walk(dir: Path): Seq[String] =
        fs.listStatus(dir).toSeq.flatMap { st =>
          if (st.isFile) Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
          else walk(st.getPath)
        }
      walk(hp).sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    }
    md.digest().take(bytes).map("%02x".format(_)).mkString
  }

  /** Every fingerprint this JVM derived: the live set of the hygiene
    * sweep.
    */
  private val sessionFps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Content fingerprint of the source files under `paths`: metadata-only,
    * and it changes whenever the data is regenerated. Artifact names carry
    * it, so stale reuse is impossible by construction; it is recorded as
    * live for [[warehouseHygiene]].
    */
  private[graft] def sourceFingerprint(spark: SparkSession, paths: String*): String = {
    val fp = listingFp(spark, paths, 6)
    sessionFps.add(fp)
    fp
  }

  private def warehouseFs(spark: SparkSession): (org.apache.hadoop.fs.FileSystem, Path) = {
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    (warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration), warehouse)
  }

  /** Session-end warehouse hygiene: one ledger line (live artifact dirs,
    * bytes) plus a retirement sweep of `graft_*` dirs whose name carries
    * NO fingerprint this JVM derived. Without it, dead artifacts of a
    * long-lived or shared warehouse accumulate without bound, since
    * [[buildOnce]]'s per-prefix sweep only fires for prefixes the session
    * rebuilds. Child fingerprints (`<fp>e<epoch>`) contain the parent fp,
    * so a substring match keeps them with their parent. It also releases
    * the session's rank-percentile histograms, which must not outlive the
    * serving pass. Call only at session end (Bench/Verify), after the last
    * query.
    *
    * Two guards keep the sweep from eating artifacts it must not:
    * `sweep=false` (a FILTERED Verify/Bench run — this session derived
    * fingerprints for only a subset of queries, so "no fp from this
    * session" proves nothing about the rest) prints the ledger without
    * retiring; and even when sweeping, dirs younger than `minAgeMs`
    * survive — a concurrently running JVM's in-flight builds are by
    * construction fresh, so the age floor closes the cross-JVM delete race
    * for any caller whose warehouse is shared.
    */
  private[graft] def warehouseHygiene(
      spark: SparkSession,
      sweep: Boolean = true,
      minAgeMs: Long = 60L * 60 * 1000
  ): String = {
    val released = graft.queries.Relational.histograms.release(spark)
    val (fs, warehouse) = warehouseFs(spark)
    if (!fs.exists(warehouse)) return s"[warehouse] empty; released $released cached histograms"
    val live = Set.from(sessionFps.asScala)
    val entries = fs.listStatus(warehouse).filter(_.getPath.getName.startsWith("graft_"))
    val cutoff = System.currentTimeMillis() - minAgeMs
    // an artifact's age is its newest write anywhere under the dir, not
    // the dir inode's mtime: a concurrent JVM mid-way through a build
    // longer than the floor keeps writing files, so its newest write
    // stays fresh. A concurrent writer can rename or delete entries (a
    // `_temporary` commit) between our listStatus and the child stat; an
    // unreadable entry is being written right now, so it counts as fresh
    def newestWrite(p: Path): Long =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else {
          val children = fs.listStatus(p)
          if (children.isEmpty) st.getModificationTime
          else math.max(st.getModificationTime, children.map(c => newestWrite(c.getPath)).max)
        }
      } catch {
        case NonFatal(_) => Long.MaxValue
      }
    val (liveKept, dead) =
      entries.partition(st => live.exists(fp => st.getPath.getName.contains(fp)))
    val staleCandidates =
      if (sweep) dead.filter(st => newestWrite(st.getPath) <= cutoff)
      else Array.empty[FileStatus]
    // liveness is re-checked against the live set right before each
    // delete: a concurrent first caller can fingerprint an hour-old
    // artifact after the snapshot above and serve from it by the time
    // the sweep gets there. The age floor only protects fresh writes,
    // not serves of old dirs
    val stale = staleCandidates.filter { st =>
      val claimedMeanwhile = sessionFps.asScala.exists(fp => st.getPath.getName.contains(fp))
      if (!claimedMeanwhile) fs.delete(st.getPath, true)
      !claimedMeanwhile
    }
    val kept = liveKept ++ dead.diff(stale)
    // the byte census is informational; a concurrent builder's
    // retire-then-rebuild can remove a listed dir before this walk
    val bytes = kept.map { st =>
      try fs.getContentSummary(st.getPath).getLength
      catch { case NonFatal(_) => 0L }
    }.sum
    val mode = if (sweep) "" else " (filtered run: sweep skipped)"
    s"[warehouse] ${kept.length} live artifact dirs, $bytes bytes; retired ${stale.length} stale$mode;" +
      s" released $released cached histograms"
  }

  // serializes warehouse builds: two first callers racing on the same
  // fingerprint would otherwise interleave delete + saveAsTable
  private val bucketBuildLock = new Object

  /** Retires every warehouse artifact whose name starts with one of
    * `prefixes`, in three steps: (1) registered sibling tables drop
    * THROUGH the catalog (files and registration, so nothing this session
    * registered can dangle); (2) on-disk leftovers no catalog knows
    * (crashed mid-write builds, dead JVMs) are swept, INCLUDING the
    * current fingerprint's dirs, which the caller is about to rebuild;
    * (3) the current tables' own registrations drop if present. Call only
    * from inside [[buildOnce]], under [[bucketBuildLock]].
    */
  private def retireWarehouseArtifacts(
      spark: SparkSession,
      prefixes: Seq[String],
      currentTables: Seq[String]
  ): Unit = {
    spark.catalog
      .listTables()
      .collect()
      .map(_.name)
      .filter(n => prefixes.exists(n.startsWith) && !currentTables.contains(n))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val (fs, warehouse) = warehouseFs(spark)
    if (fs.exists(warehouse)) {
      fs.listStatus(warehouse)
        .filter(st => prefixes.exists(st.getPath.getName.startsWith))
        .foreach(st => fs.delete(st.getPath, true))
    }
    currentTables.foreach { t =>
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
    }
  }

  /** Build-once guard for fingerprinted warehouse artifacts: if any of
    * `tables` is missing, retire stale siblings under `prefixes` and run
    * `build` exactly once under [[bucketBuildLock]] (double-checked so
    * concurrent first callers don't interleave delete + saveAsTable).
    */
  private[graft] def buildOnce(
      spark: SparkSession,
      prefixes: Seq[String],
      tables: Seq[String]
  )(build: => Unit): Unit =
    if (!tables.forall(spark.catalog.tableExists)) bucketBuildLock.synchronized {
      if (!tables.forall(spark.catalog.tableExists)) {
        retireWarehouseArtifacts(spark, prefixes, tables)
        build
      }
    }

  /** Completion sentinel for multi-table builds whose tables come into
    * existence DURING the build (stream-maintained indexes: the first
    * micro-batch creates the postings table), the catalog edition of the
    * layout family's _SUCCESS-written-last discipline. Include the
    * sentinel in the [[buildOnce]] guard list and write it at the END of
    * the build: a crash mid-drain leaves the sentinel missing, so the next
    * call retires the partial tables and rebuilds from batch 0 instead of
    * silently serving a half-drained index.
    */
  private[graft] def writeDoneSentinel(spark: SparkSession, doneTable: String): Unit =
    spark.range(1).write.mode("overwrite").format("parquet").saveAsTable(doneTable)

  // serializes tmpdir builds: two concurrent first callers would
  // interleave writes into the same path
  private val tmpBuildLock = new Object

  /** Build-once guard for fingerprinted tmpdir layouts: retires sibling
    * `prefix*` dirs whose fingerprint no longer matches (each source
    * regeneration would otherwise leak a dir of parquet per prefix), then
    * runs `build` exactly once under [[tmpBuildLock]] (double-checked on
    * the _SUCCESS marker). A dir present WITHOUT the marker is a crashed
    * partial build and is deleted before the retry: leftover state must
    * not leak into the rebuild (a crashed stream build's batch dirs
    * would sit beside the retry's own).
    */
  private[graft] def tmpDirOnce(prefix: String, fp: String)(build: String => Unit): String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val path = s"$tmp/$prefix$fp"
    if (!new java.io.File(path, "_SUCCESS").exists()) tmpBuildLock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        Option(tmp.listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(prefix) && f.getName != s"$prefix$fp")
          .foreach(stale => org.apache.commons.io.FileUtils.deleteQuietly(stale))
        if (new java.io.File(path).exists())
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
        build(path)
      }
    }
    path
  }

  // the one lock of the memo registry; no build ever runs under it
  private val lock = new Object
  private val memos = scala.collection.mutable.ArrayBuffer.empty[Memo[_, _]]

  /** A session's identity that does not keep the session alive: an
    * entry whose value does not reference its session (a registered dir
    * name) lets the GC reclaim it.
    */
  private final class SessionRef(s: SparkSession) extends java.lang.ref.WeakReference[SparkSession](s) {
    private val h = System.identityHashCode(s)
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case r: SessionRef => (r eq this) || { val s = get; (s ne null) && (r.get eq s) }
      case _             => false
    }
    // collected, or its context stopped: no caller can reach the entry
    def dead: Boolean = { val s = get; (s eq null) || s.sparkContext.isStopped }
  }

  /** Drops every dead session's entries from every namespace, on each
    * access of any. Dropped, not freed: a stopped context has no cached
    * blocks left to unpersist. Holds [[lock]].
    */
  private def purge(): Unit = memos.foreach(_.map.keySet.removeIf(_._1.dead))

  /** Entries `spark` holds across every namespace. A read: the purge runs
    * on memo access.
    */
  private[graft] def heldBy(spark: SparkSession): Int = lock.synchronized {
    val me = new SessionRef(spark)
    memos.map(_.map.keySet.asScala.count(_._1 == me)).sum
  }

  /** One namespace of the session memo registry: values keyed by
    * (session, `K`). Past `cap` entries (across sessions) the
    * least-recently-returned one is evicted; `free` releases what a
    * dropped value holds (unpersists a persisted frame).
    */
  private[graft] final class Memo[K, V](cap: Int = Int.MaxValue, free: V => Unit = (_: V) => ()) {
    // access order: a hit moves the entry to the back, so eviction never
    // takes one a concurrent caller just received
    private[Warehouse] val map = new java.util.LinkedHashMap[(SessionRef, K), V](16, 0.75f, true)
    lock.synchronized { memos += this }

    private def evict(): Unit = while (map.size > cap) {
      val it = map.entrySet.iterator
      val eldest = it.next().getValue
      it.remove()
      free(eldest)
    }

    /** Drops and frees `spark`'s entries whose key satisfies `p`; returns
      * how many. Holds [[lock]].
      */
    private def dropWhere(spark: SparkSession)(p: K => Boolean): Int = {
      val me = new SessionRef(spark)
      val it = map.entrySet.iterator
      var n = 0
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == me && p(e.getKey._2)) {
          it.remove()
          free(e.getValue)
          n += 1
        }
      }
      n
    }

    def get(spark: SparkSession, key: K): Option[V] = lock.synchronized {
      purge()
      Option(map.get((new SessionRef(spark), key)))
    }

    /** Sets the entry; returns the value it replaced, not freed. */
    def put(spark: SparkSession, key: K, value: V): Option[V] = lock.synchronized {
      purge()
      val old = Option(map.put((new SessionRef(spark), key), value))
      evict()
      old
    }

    /** The value for (`spark`, `key`), built on a miss. This session's
      * entries whose key `supersedes` marks (an older fingerprint of the
      * same source) are dropped and freed first. `build` runs outside the
      * lock, since it may run multi-job Spark actions; when two callers
      * race, the first put wins and the loser's value is dropped WITHOUT
      * `free`: CacheManager keys cached data by plan, both racers
      * persisted the same plan, and unpersisting the loser would evict
      * the winner's blocks.
      */
    def apply(spark: SparkSession, key: K, supersedes: K => Boolean = (_: K) => false)(build: => V): V = {
      val k = (new SessionRef(spark), key)
      lock.synchronized {
        purge()
        dropWhere(spark)(supersedes)
        Option(map.get(k))
      }.getOrElse {
        val built = build
        lock.synchronized {
          purge()
          Option(map.putIfAbsent(k, built)).getOrElse { evict(); built }
        }
      }
    }

    /** Drops and frees every entry of `spark`; returns how many. */
    def release(spark: SparkSession): Int = lock.synchronized(dropWhere(spark)(_ => true))

    /** Entries held, across sessions. */
    def size: Int = lock.synchronized(map.size)
  }
}
