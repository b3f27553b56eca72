package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet star schema + LLM-pipeline
  * tables (TESTDATA.md / FIXTURES.md §B). One function per table so every
  * query declares its scan explicitly and Catalyst can prune/push down
  * per-query.
  */
object Tables {

  /** Reader memo: `spark.read.parquet` costs 65–85 ms of driver time
    * per call (file listing, footer schema inference, source
    * resolution), and every query builder constructs its readers fresh,
    * so each execution would repay it once per table. This returns the
    * one already-constructed DataFrame per (session, path), as a catalog
    * does for a registered table. It caches NO data and NO results: the
    * value is an unexecuted logical plan, and every execution still scans
    * the parquet files. Fixture paths are immutable for a JVM's lifetime.
    */
  private val readers = new Warehouse.Memo[String, DataFrame]()

  private def pq(spark: SparkSession, path: String): DataFrame =
    readers(spark, path)(spark.read.parquet(path))

  /** Self-validating reader memo for warehouse artifacts read by path.
    * Unlike the fixtures above, artifact dirs MUTATE within a session
    * (compaction and vacuum rewrite or delete files), so the key carries
    * the listing fingerprint of the dirs: about 1–3 ms on a local FS, two
    * orders of magnitude below the ~55–60 ms inference it saves. Any
    * mutation yields a new key and a fresh reader (Spark part-file names
    * carry a per-job UUID, so even a byte-identical rewrite renames its
    * files); no write-side invalidation hook is needed. Same
    * no-data/no-results contract as the reader memo. Capped: the vacuum
    * and compaction families mint a handful of fingerprints per session,
    * and evicted entries hold no cached blocks.
    */
  private val artifacts = new Warehouse.Memo[(Seq[String], String), DataFrame](64)

  def artifactParquet(spark: SparkSession, paths: String*): DataFrame =
    artifacts(spark, (paths.toList, Warehouse.listingFp(spark, paths, 8)))(spark.read.parquet(paths: _*))

  def region(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/region.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/nation.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/part.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/orders.parquet")
  def lineitem(spark: SparkSession, dir: String): DataFrame = pq(spark, s"$dir/lineitem.parquet")
  /** events.ts has shipped in two physical encodings across generator
    * versions: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as raw nanos via the legacy conf and floor-convert,
    * exactly DuckDB's ns→µs truncation) and plain TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (which Spark reads as TIMESTAMP_NTZ). Both
    * normalize to the same session-UTC TimestampType column so every
    * downstream window/watermark/oracle comparison is encoding-agnostic.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(pq(spark, s"$dir/events.parquet"))
  }

  /** Normalizes an events-shaped frame's `ts` to TimestampType (µs,
    * session tz = UTC) from whichever physical type the scan produced:
    * raw nanos long (legacy NANOS files), TIMESTAMP_NTZ (µs files —
    * NTZ wall-clock == UTC instant under the UTC session tz), or
    * already-TimestampType (pass-through).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  /** Fans a sub-cores-split scan out to every core. The driver's test
    * files are single-split (<128 MB), which would serialize the
    * md5/shingle/vector-heavy map chains of the pipeline operators onto
    * one task; a real corpus has ≥ cores input splits and takes the
    * no-op branch, so no shuffle is ever added at scale. The shuffled
    * payload in the fan-out branch is by definition smaller than one
    * split. The split count is probed once per (session, path): the probe
    * plans the query, and repaying it on every documents()/embeddings()
    * call would add a full planning pass per query construction.
    */
  private val splitCounts = new Warehouse.Memo[String, Int]()

  /** Effective scan parallelism of a parquet path: byte-range splits
    * OVERCOUNT it — a split yields rows only if it contains a row-group
    * midpoint, so a large single file with few row groups reads on few
    * tasks no matter how many 5 MB splits the planner cuts (the planner
    * cut 32 splits of the sf30 documents file, but its 2 row groups
    * serialized the whole shingle+minhash chain onto 2 tasks — the
    * superlinear term of the sf30 index builds). The real floor is the ROW
    * GROUP count; footers are read only when the path has fewer files
    * than cores, so a production table (≥ cores files) never pays a
    * footer pass.
    */
  private[graft] def effectiveParts(df: DataFrame, path: String, cores: Int): Int = {
    val scanParts = df.rdd.getNumPartitions
    try {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }.toSeq
        else Seq(st)
      if (files.length >= cores) scanParts
      else {
        val rowGroups = files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size
          finally r.close()
        }.sum
        // an empty dir (or all-empty files) has zero row groups; the
        // split count is the only honest answer there — min(_, 0) would
        // report 0 parallelism and push the caller into a pointless
        // repartition of an empty frame
        if (rowGroups == 0) scanParts else math.min(scanParts, rowGroups)
      }
    } catch { case scala.util.control.NonFatal(_) => scanParts }
  }

  def fanOut(df: DataFrame, cacheKey: String = ""): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      if (cacheKey.isEmpty) df.rdd.getNumPartitions
      else splitCounts(df.sparkSession, cacheKey)(effectiveParts(df, cacheKey, cores))
    if (parts < cores) df.repartition(cores) else df
  }

  /** Plain scans: cheap map-only queries (grep, exact dedup, metadata
    * extraction, scan-side text scoring) keep their natural input splits —
    * adding a repartition would shuffle the full text column for work the
    * scan task does in-place.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    pq(spark, s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    pq(spark, s"$dir/embeddings.parquet")

  /** Fanned variants for per-row-heavy operators (shingling, minhashing,
    * hyperplane projections): those map chains dominate the cost of one
    * extra shuffle of a sub-cores-split file, and serializing them onto a
    * single task is the local bottleneck the fan-out removes. At scale the
    * file has ≥ cores splits and fanOut is a no-op.
    */
  def documentsFanned(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    fanOut(pq(spark, path), path)
  }
  def embeddingsFanned(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/embeddings.parquet"
    fanOut(pq(spark, path), path)
  }

}

/** Local session factory used by Bench and the test suites. Local-mode
  * tuning: shuffle partitions sized to cores (not the 200 default), AQE on
  * so skewed shuffles re-plan at runtime — both are also the right defaults
  * on a real cluster (AQE coalesces the 32-partition assumption away).
  *
  * `file:` paths go through [[GraftLocalFileSystem]] (and [[GraftLocalFs]]
  * for `FileContext`). With no `libhadoop` on the host, stock Hadoop forks
  * `chmod` for every file or directory it creates with a mode and
  * `readlink` for every `getFileLinkStatus`, at about 3 ms a process: the
  * engine's part files, every parquet commit, and each streaming
  * micro-batch's offset/commit logs, state-store deltas and checkpoint
  * checksums. The graft classes make those two calls in-process and hand
  * sticky/setuid/setgid modes, symlinks and stores without a POSIX view
  * back to Hadoop's code; modes, `.crc` files and rename atomicity are
  * unchanged. Hadoop caches `FileSystem`s by scheme and user, not by
  * conf, so this holds only while a graft session is the first to open a
  * `file:` `FileSystem` in the JVM (`LocalFsSpec` pins it).
  */
object GraftSession {

  /** Shared by the exit-time cleanup hooks (warehouse, streaming
    * sentinel dirs) so deletion semantics can't drift between them.
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Per-process managed-table warehouse. Bucket tables are rebuilt per
    * JVM regardless (the in-memory catalog doesn't persist), so a
    * private directory costs nothing extra while removing every
    * cross-JVM race on a shared ./spark-warehouse (concurrent test +
    * verify runs sweeping each other's files). Deleted on JVM exit.
    */
  private[graft] lazy val warehouseDir: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-warehouse-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
    p.toString
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // typed-aggregate hash capacity: Spark's ObjectHashAggregate falls
      // back to SORT-based aggregation after 128 keys per task (the
      // SQLConf default) — every imperative aggregate here (minhash
      // signatures, top-k buffers, KMV, the PQ/IVF argmaxes) then pays a
      // full sort of its INPUT rows, which is exactly the superlinear
      // term the sf30 index builds showed (sig build 13 s → 159 s at 3×
      // data). 128k keys × ≤256 B buffers ≈ 33 MB/task —
      // bounded at any corpus size because keys/task are shuffle-bounded,
      // while the avoided sort grows with the DATA.
      //   SESSION-GLOBAL ASSUMPTION: the threshold applies to EVERY
      // ObjectHashAggregate and its map is untracked by the memory
      // manager, so it is sized against the LARGEST registered
      // per-key aggregation buffer. Census (keep current when adding
      // aggregates): MinhashAgg 32×8 B, SimhashAgg 64×4 B, KMinValues
      // 64×8 B, TopKByCosine ≤20×16 B, KMinByHash ≤5×16 B — worst ≈
      // 0.5 KB payload (~2 KB with List/JVM overhead) → ≤256 MB/task
      // worst-case before fallback. An aggregate with per-key state in
      // the tens of KB (a large heap/sketch) must NOT rely on this
      // session default — scope a lower threshold around that job.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // a broadcast's 300 s clock starts with the query, not with its
      // inputs: nothing Verify, Bench or the specs run has a longer
      // upstream chain, and a wedged broadcast fails in minutes (builds
      // at sf30 and beyond needed 3600 s)
      .config("spark.sql.broadcastTimeout", "300")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      // lz4: the whole 200-query suite at sf0.1 shuffles ~2.6 MB/query
      // with zero spill, so a zstd ratio gain is unmeasurable beneath
      // window noise
      .config("spark.io.compression.codec", "lz4")
      // the native expressions' SQL surface (graft_fdot & co.) plus the
      // as-of-join strategy/rule ride on every engine session, so raw
      // spark.sql text reaches them exactly like the builders do
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
