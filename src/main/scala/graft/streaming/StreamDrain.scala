package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one file-queue stream drain. Every stream-maintained build (the
  * layout, MV and takedown builders in `Layout`, and the IVF, PQ, BM25
  * and dedup index builders) writes its input as a bounded parquet
  * queue with [[queue]] and drains it through Structured Streaming with
  * [[drainTicks]], so the queue shape (6 files, 2 per trigger: 3
  * micro-batches) and the replay discipline are one policy:
  *
  *   - each drain gets a fresh temp checkpoint, deleted when it returns.
  *     The artifacts a drain commits live in the warehouse or under a
  *     `/tmp` dir that survives the JVM; a checkpoint resumed from an
  *     earlier drain would skip the batches it already committed, so a
  *     rebuild always drains from batch 0;
  *   - a replayed micro-batch (same batchId) never runs its tick twice,
  *     since append-mode ticks are not idempotent ([[BatchGuard]]);
  *   - the build-once marker the caller writes AFTER the drain returns
  *     (a `_SUCCESS` file, a done-sentinel table, or the committed table
  *     of [[drainToTable]]) covers the cross-JVM half: a crashed drain
  *     leaves no marker, and the next call rebuilds from scratch.
  */
object StreamDrain {

  /** Files per queue; with [[FilesPerTrigger]] a queue drains in 3
    * micro-batches, so every stream build commits more than once.
    */
  val QueueFiles = 6
  val FilesPerTrigger = 2

  /** Writes (once per fingerprint) `rows` as a [[QueueFiles]]-file
    * parquet queue under the tmp dir `prefix + fp`; returns the dir.
    */
  def queue(prefix: String, fp: String)(rows: => DataFrame): String =
    graft.Warehouse.tmpDirOnce(prefix, fp) { path =>
      rows.repartition(QueueFiles).write.mode("overwrite").parquet(path)
    }

  /** Wraps a drain's tick as its `foreachBatch` function: runs `tick`
    * once per non-empty batchId for the guard's lifetime (one drain).
    * An empty delivery neither ticks nor consumes its batchId, so a
    * retry that delivers the data still ticks. Kept apart from
    * [[drainTicks]] so a spec can drive a duplicate batchId through it.
    */
  private[streaming] final class BatchGuard(tick: (DataFrame, Long) => Unit)
      extends ((DataFrame, Long) => Unit)
      with Serializable {
    private val ticked = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    override def apply(df: DataFrame, batchId: Long): Unit =
      if (!df.isEmpty && ticked.add(batchId)) tick(df, batchId)

    /** Number of batchIds whose tick ran. */
    def count: Int = ticked.size
  }

  /** Drains the parquet queue at `frag`, running `tick(batch, batchId)`
    * once per non-empty micro-batch. Returns the number of batches
    * ticked: admitted batchIds, so a replay can't inflate a ledger.
    */
  def drainTicks(spark: SparkSession, frag: String)(tick: (DataFrame, Long) => Unit): Int = {
    val chk = java.nio.file.Files.createTempDirectory("graft_drainchk_").toString
    val guard = new BatchGuard(tick)
    val q = spark.readStream
      .schema(graft.Tables.artifactParquet(spark, frag).schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(frag)
      .writeStream
      .foreachBatch(guard)
      .option("checkpointLocation", chk)
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(chk))
    }
    guard.count
  }

  /** Drains the queue at `frag` into catalog table `table`, committing
    * the table only after a complete drain; returns the batch count.
    * Each batch stages its slice in a per-batchId dir, and the table is
    * written once from the staged union, so table existence IS the
    * completion marker: a drain that fails midway leaves no table for
    * the build-once check to trust (a table the first batch created and
    * later batches appended to would). The slices are disjoint, so N
    * partial drains union to the one-shot table exactly.
    */
  def drainToTable(spark: SparkSession, frag: String, table: String): Int = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val stg = java.nio.file.Files.createTempDirectory("graft_dvstage_").toString
    try {
      val n = drainTicks(spark, frag) { (df, id) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$stg/b$id")
      }
      val union =
        if (n == 0) graft.Tables.artifactParquet(spark, frag).limit(0)
        else spark.read.parquet(s"$stg/b*")
      union.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(table)
      n
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stg))
  }
}
