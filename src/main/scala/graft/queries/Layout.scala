package graft.queries

import graft.{Tables, Warehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering, the
  * technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`. Interleaving
  * the bits of two filter columns and range-partitioning + sorting on
  * the interleaved key makes every output file cover a small RECTANGLE
  * of the (partkey, suppkey) space instead of a stripe, so a
  * conjunctive box predicate can skip most files from their footer
  * min/max stats alone — the dominant cost lever for selective scans
  * over 100 TB: I/O avoided at the file/row-group level, before any
  * row is read. The layout is a build-once warehouse artifact (same
  * fingerprint + retirement pattern as the q22 bucket tables); queries
  * against it return byte-identical results to the unclustered table,
  * which is exactly what the oracle checks.
  */
object Layout {

  /** Morton bit-spread of a 16-bit value into even bit positions — the
    * classic shift/mask cascade, composed from codegen'd bitwise
    * functions (no UDF). Inputs are masked to 16 bits first: at test
    * scale the keys fit; a production run quantile-buckets each
    * dimension to 2^16 ranks first (documented, not needed here).
    * Computed in LongType so y's bit 15 (bit 31 of the interleaved key)
    * never lands in an Int sign bit — the full 2^16 rank domain sorts
    * as one unsigned sequence and z-range arithmetic stays valid.
    */
  private[queries] def spreadBits(c: Column): Column = {
    val m = c.cast("long").bitwiseAND(lit(0xffffL))
    val s1 = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00ff00ffL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Non-negative 32-bit Morton key in a LongType column: x in even
    * bits, y in odd bits.
    */
  private[queries] def zValue(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Output files in the clustered layout. 32 = one per local core; at
    * cluster scale this is files-per-job sized to ~1 GB each.
    */
  val ZFiles = 32

  /** Input-bytes-per-output-file target for the corpus-sized z-clustered
    * writes (zorder + MoR base). 256 MB of parquet ≈ 10M lineitem rows —
    * a bounded per-task range sort, not a spill.
    */
  private val ZFileTargetBytes = 256L << 20

  /** Range-file count for a corpus-sized z-clustered write: the constant
    * floor at fixture scale (file-count gates in LayoutSpec and the
    * write-time lineage ids stay byte-stable at every oracle SF), scaled
    * with source bytes past floor×256 MB. Without this the fifth-decade
    * MoR build funnels 600M rows into [[MorFiles]]=8 range-sort tasks —
    * 75M-row external sorts, the ~60 GB spill that kept the sf100 probe
    * off the disk budget (VERDICT r19 #3); with it, per-task sort state
    * is bounded by the byte target at ANY corpus size, which is the
    * property that holds on a 1000-executor cluster too (file count
    * grows with data; task state does not). Bytes come from one
    * filesystem ContentSummary call — no data scan, no double-exec of
    * the child plan.
    */
  private def scaledRangeFiles(spark: SparkSession, floor: Int, sourcePath: String): Int = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(sourcePath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    math.max(floor, math.min(1 << 15, (bytes / ZFileTargetBytes).toInt))
  }

  // the box predicate the registered query runs — narrow in both
  // dimensions, so a 1-D sort on either key alone could not prune well
  val PartLo = 64; val PartHi = 192; val SuppLo = 8; val SuppHi = 24

  /** Builds (once per content fingerprint) the z-ordered lineitem
    * table: range-partitioned and sorted by the Morton key of
    * (l_partkey, l_suppkey), so file boundaries follow the space-
    * filling curve.
    */
  private[queries] def zorderTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val t = s"graft_zorder_$fp"
    Warehouse.buildOnce(spark, Seq("graft_zorder_"), Seq(t)) {
      Tables
        .lineitem(spark, dir)
        .withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
        .repartitionByRange(scaledRangeFiles(spark, ZFiles, s"$dir/lineitem.parquet"), $"z")
        .sortWithinPartitions($"z")
        .drop("z")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Per-file (min,max) manifest of the z-ordered table — the metadata
    * layer Iceberg/Delta persist at write time so planners can prune
    * files without opening them. Built once per fingerprint alongside
    * the layout artifact; one stats pass over the clustered table
    * (production writers emit these stats during the write itself).
    */
  private[queries] def manifestTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val zt = zorderTable(spark, dir)
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val t = s"graft_zmanifest_$fp"
    Warehouse.buildOnce(spark, Seq("graft_zmanifest_"), Seq(t)) {
      spark
        .table(zt)
        .groupBy(input_file_name().as("file"))
        .agg(
          min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
          min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
        )
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Registered query: manifest-pruned box scan — the OPERATIONAL form
    * of the skippability layout_zorder proves. The (tiny) manifest is
    * filtered for files whose rectangle intersects the box; only the
    * survivors' paths are handed to the reader, so the skipped ~75% of
    * files are never opened — no footer parse, no task. The path list
    * is metadata-scale driver work (like catalog lookups), exactly how
    * table-format planners prune at 100 TB. Skipping is provably safe:
    * a file whose (min,max) rectangle misses the box contains no
    * matching row, so the result — checked against the same raw-table
    * oracle as layout_zorder — is identical by construction.
    */
  def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mt = manifestTable(spark, dir)
    val keep = spark
      .table(mt)
      .filter(
        $"pmax" >= PartLo && $"pmin" <= PartHi && $"smax" >= SuppLo && $"smin" <= SuppHi
      )
      .select($"file")
      .collect()
      .map(_.getString(0))
    // a box intersecting no file rectangle must yield the same empty
    // result the unpruned scan would, not a cannot-infer-schema error
    val base =
      if (keep.isEmpty) spark.table(zorderTable(spark, dir)).filter(lit(false))
      else Tables.artifactParquet(spark, keep.toIndexedSeq: _*)
    base
      .filter($"l_partkey".between(PartLo, PartHi) && $"l_suppkey".between(SuppLo, SuppHi))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }

  /** Small-file problem fixture + target: the compaction op rewrites a
    * [[FragFiles]]-file layout (the many-tiny-files shape streaming
    * ingest and per-partition writers leave behind — each file costs a
    * task, an open, a footer parse, a catalog entry) into
    * [[CompactTarget]] right-sized files. At 100 TB the target is
    * ~1 GB/file; the op is one shuffle-free coalesce when shrinking
    * file counts, which is why compaction jobs are cheap relative to
    * the scan overhead they remove.
    */
  val FragFiles = 64
  val CompactTarget = 4

  private[queries] def fragmentedDir(spark: SparkSession, dir: String): String = {
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    Warehouse.tmpDirOnce("graft_frag_", fp) { path =>
      Tables.documents(spark, dir).repartition(FragFiles).write.mode("overwrite").parquet(path)
    }
  }

  /** Registered query: compact the fragmented layout, then prove
    * content invariance with an aggregate the oracle replays on the
    * RAW table (neither layout is visible to DuckDB — equality means
    * compaction lost nothing). `coalesce` merges partitions WITHOUT a
    * shuffle (each output task reads ~FragFiles/CompactTarget inputs);
    * LayoutSpec pins the before/after file counts and the no-exchange
    * plan of the compaction write.
    */
  def compactScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frag = fragmentedDir(spark, dir)
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val compacted = Warehouse.tmpDirOnce("graft_compact_", fp) { path =>
      Tables.artifactParquet(spark, frag).coalesce(CompactTarget).write.mode("overwrite").parquet(path)
    }
    Tables.artifactParquet(spark, compacted)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"),
        count(when(length($"text") > 100, 1)).as("n_long")
      )
      .orderBy($"lang")
  }

  // ---- incremental layout maintenance (the ingest-tick API) ------------

  /** The lineitem corpus split into an initial build + two ingest
    * ticks (disjoint, exhaustive — the union IS the full table, which
    * is what lets the full-table oracle check the incremental layout):
    * slice 0 = ¬(4|orderkey) ~75%, slice 1 = 4|orderkey ∧ ¬(8|orderkey)
    * ~12.5%, slice 2 = 8|orderkey ~12.5%.
    */
  val IncSlices = 3
  private val IncSliceFiles = Array(8, 2, 2)

  /** Stats-maintenance ledger: how many data FILES had min/max stats
    * computed by manifest maintenance in this JVM. The incremental
    * contract the spec pins: after N ticks the counter equals the
    * TOTAL file count across slices (each file scanned once, when its
    * tick lands) — never initial_files × N (the full-rebuild shape) —
    * and further scans leave it unchanged.
    */
  private[graft] val manifestStatsScans = new java.util.concurrent.atomic.AtomicLong

  private def incSlice(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    k match {
      case 0 => li.filter(pmod($"l_orderkey", lit(4)) =!= 0)
      case 1 => li.filter(pmod($"l_orderkey", lit(4)) === 0 && pmod($"l_orderkey", lit(8)) =!= 0)
      case _ => li.filter(pmod($"l_orderkey", lit(8)) === 0)
    }
  }

  /** Builds (once per content fingerprint) slice k's data files —
    * z-order-clustered within the slice, the way every ingest batch of
    * a clustered table is locally sorted at write time — and its
    * manifest SEGMENT holding min/max stats for ONLY those files. The
    * manifest is a directory of per-tick segments (how Iceberg/Delta
    * actually persist stats: one manifest file per snapshot), so a tick
    * appends a segment without touching — or rescanning — any earlier
    * one.
    */
  private def incTick(spark: SparkSession, dir: String, fp: String, k: Int): (String, String) = {
    import spark.implicits._
    val data = Warehouse.tmpDirOnce(s"graft_zinc_d${k}_", fp) { path =>
      incSlice(spark, dir, k)
        .withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
        .repartitionByRange(IncSliceFiles(k), $"z")
        .sortWithinPartitions($"z")
        .drop("z")
        .write
        .mode("overwrite")
        .parquet(path)
    }
    val man = Warehouse.tmpDirOnce(s"graft_zinc_m${k}_", fp) { path =>
      val stats = Tables.artifactParquet(spark, data)
        .groupBy(input_file_name().as("file"))
        .agg(
          min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
          min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
        )
      stats.write.mode("overwrite").parquet(path)
      manifestStatsScans.addAndGet(
        Tables.artifactParquet(spark, path).count()
      )
      ()
    }
    (data, man)
  }

  /** Registered query: the manifest-pruned box scan over the
    * incrementally-maintained layout. Each ingest tick appended its
    * own data files + manifest segment; the scan unions the (tiny)
    * segments, prunes the combined file list against the box, and
    * reads survivors only — identical result contract to the
    * build-once `layout_pruned_scan` (and the same full-table oracle),
    * proving maintenance lost nothing. At 100 TB this is the shape
    * that keeps clustered tables serviceable under continuous ingest:
    * stats work per tick is proportional to the BATCH, not the table.
    */
  def incrementalScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val ticks = (0 until IncSlices).map(k => incTick(spark, dir, fp, k))
    val manifest = Tables.artifactParquet(spark, ticks.map(_._2): _*)
    val keep = manifest
      .filter($"pmax" >= PartLo && $"pmin" <= PartHi && $"smax" >= SuppLo && $"smin" <= SuppHi)
      .select($"file")
      .collect()
      .map(_.getString(0))
    val base =
      if (keep.isEmpty) Tables.artifactParquet(spark, ticks.map(_._1): _*).filter(lit(false))
      else Tables.artifactParquet(spark, keep.toIndexedSeq: _*)
    base
      .filter($"l_partkey".between(PartLo, PartHi) && $"l_suppkey".between(SuppLo, SuppHi))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }

  /** Time travel over the incrementally-maintained layout: each ingest
    * tick IS a snapshot boundary (Iceberg/Delta semantics — snapshot v
    * = the union of data files committed by ticks 0..v), so reading
    * "the table as of version v" is a file-list selection, never a data
    * rewrite or a log replay. The registered query audits all three
    * snapshots in ONE scan: every row read from tick k contributes to
    * versions k..latest via an explode(sequence(tick, latest)) — one
    * pass over the physical files, partial-aggregated to
    * #versions × #groups rows before the only exchange. The oracle
    * recomputes each snapshot from the RAW table with the slice
    * predicates (version v = l_orderkey % 2^(v+2) ≠ 0 for v < latest),
    * proving the tick boundaries lost nothing. At 100 TB this is how
    * snapshot isolation stays O(manifest): versions are metadata over
    * immutable files, and an as-of read costs the same as a current
    * read.
    */
  def snapshotScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val ticks = (0 until IncSlices).map(k => incTick(spark, dir, fp, k))
    val tagged = ticks.zipWithIndex
      .map { case ((data, _), k) =>
        Tables.artifactParquet(spark, data).withColumn("tick", lit(k))
      }
      .reduce(_.unionByName(_))
    tagged
      .select(
        $"l_quantity",
        $"l_extendedprice",
        explode(sequence($"tick", lit(IncSlices - 1))).as("version")
      )
      .groupBy($"version".cast("long").as("version"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"version")
  }

  // ---- streaming ingest into the incremental layout --------------------

  val StreamIngestFragFiles = 6 // arriving "upstream" files
  val StreamIngestFilesPerTrigger = 2 // → 3 micro-batches
  val StreamIngestTickFiles = 2 // z-clustered files per committed tick

  /** Spec ledger: (non-empty micro-batches, manifest segments
    * committed) by the last streaming-ingest build in this JVM — the
    * one-segment-per-batch contract.
    */
  private[graft] val lastStreamIngest =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Builds (once per fingerprint) the stream-maintained layout: a
    * Structured Streaming file source drains the fragmented upstream
    * dir in micro-batches, and `foreachBatch` IS the ingest tick — each
    * batch commits its own z-clustered data files plus a manifest
    * segment with min/max stats for exactly those files. This ties the
    * two ingest-tick APIs together: the streaming admission path writes
    * through the same per-tick layout contract `layout_incremental`
    * maintains, so a pruned scan over the accumulated segments stays
    * metadata-cheap no matter how long the stream runs. Returns the
    * tick root (data_<batch>/ + man_<batch>/ per committed batch).
    */
  private[graft] def streamIngestRoot(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val frag = Warehouse.tmpDirOnce("graft_slsrc_", fp) { path =>
      Tables.lineitem(spark, dir).repartition(StreamIngestFragFiles).write.mode("overwrite").parquet(path)
    }
    Warehouse.tmpDirOnce("graft_sling_", fp) { root =>
      new java.io.File(root).mkdirs()
      val schema = Tables.artifactParquet(spark, frag).schema
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", StreamIngestFilesPerTrigger)
        .parquet(frag)
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val segments = new java.util.concurrent.atomic.AtomicInteger
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
          if (!df.isEmpty) {
            batches.incrementAndGet()
            val dataPath = s"$root/data_$id"
            df.withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
              .repartitionByRange(StreamIngestTickFiles, $"z")
              .sortWithinPartitions($"z")
              .drop("z")
              .write
              .mode("overwrite")
              .parquet(dataPath)
            Tables.artifactParquet(spark, dataPath)
              .groupBy(input_file_name().as("file"))
              .agg(
                min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
                min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
              )
              .write
              .mode("overwrite")
              .parquet(s"$root/man_$id")
            segments.incrementAndGet()
          }
          ()
        }
        .option("checkpointLocation", s"$root/_chk")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      lastStreamIngest.set((batches.get, segments.get))
      new java.io.File(root, "_SUCCESS").createNewFile()
      ()
    }
  }

  /** Registered query `stream_layout_ingest`: the manifest-pruned box
    * scan over the STREAM-committed layout — identical result contract
    * (and oracle) to `layout_zorder`/`layout_pruned_scan`, proving the
    * streaming write path commits exactly the batch it drained, one
    * manifest segment per micro-batch (ledger spec-pinned). At 100 TB
    * this is the production write path: continuous ingest lands as
    * locally-clustered immutable files + per-commit stats, and readers
    * prune against segment metadata without ever rescanning history.
    */
  def streamIngestScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = streamIngestRoot(spark, dir)
    val subdirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory)
    val manDirs = subdirs.filter(_.getName.startsWith("man_")).map(_.getAbsolutePath)
    val keep = Tables.artifactParquet(spark, manDirs.toIndexedSeq: _*)
      .filter($"pmax" >= PartLo && $"pmin" <= PartHi && $"smax" >= SuppLo && $"smin" <= SuppHi)
      .select($"file")
      .collect()
      .map(_.getString(0))
    val base =
      if (keep.isEmpty) {
        val dataDirs = subdirs.filter(_.getName.startsWith("data_")).map(_.getAbsolutePath)
        Tables.artifactParquet(spark, dataDirs.toIndexedSeq: _*).filter(lit(false))
      } else Tables.artifactParquet(spark, keep.toIndexedSeq: _*)
    base
      .filter($"l_partkey".between(PartLo, PartHi) && $"l_suppkey".between(SuppLo, SuppHi))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }

  // ---- streaming MV maintenance ----------------------------------------

  /** Spec ledger: (non-empty micro-batches, final cumulative MV rows)
    * of the last streaming-MV build in this JVM.
    */
  private[graft] val lastStreamMv =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** Builds (once per fingerprint) the STREAM-maintained materialized
    * view: the same upstream file stream as [[streamIngestRoot]], but
    * `foreachBatch` advances an AGGREGATE instead of committing files —
    * delta = groups-sized aggregate of ONLY the arriving batch, merged
    * with the previous MV version (a groups ∪ groups aggregate), one
    * immutable MV version per batch. This is the continuous half of
    * [[mvTick]]'s contract — the Delta-Live-Tables "streaming
    * materialized view": maintenance cost per trigger is O(batch) +
    * O(groups), and a dashboard reads the latest version without ever
    * scanning the corpus. Returns the root (mv_<batch>/ versions +
    * `_latest` pointer).
    */
  private[graft] def streamMvRoot(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val frag = Warehouse.tmpDirOnce("graft_smvsrc_", fp) { path =>
      Tables.lineitem(spark, dir).repartition(StreamIngestFragFiles).write.mode("overwrite").parquet(path)
    }
    Warehouse.tmpDirOnce("graft_smv_", fp) { root =>
      new java.io.File(root).mkdirs()
      val schema = Tables.artifactParquet(spark, frag).schema
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", StreamIngestFilesPerTrigger)
        .parquet(frag)
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
          if (!df.isEmpty) {
            val delta = df
              .groupBy($"l_returnflag", $"l_linestatus")
              .agg(
                count(lit(1)).as("n_rows"),
                sum($"l_quantity").as("sum_qty"),
                sum($"l_extendedprice".cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_price")
              )
            val merged = Option(latest.get()) match {
              case None => delta
              case Some(p) =>
                Tables.artifactParquet(spark, p)
                  .unionByName(delta)
                  .groupBy($"l_returnflag", $"l_linestatus")
                  .agg(
                    sum($"n_rows").as("n_rows"),
                    sum($"sum_qty").as("sum_qty"),
                    sum($"sum_price").cast("decimal(38,2)").as("sum_price")
                  )
            }
            val out = s"$root/mv_$id"
            merged.coalesce(1).write.mode("overwrite").parquet(out)
            latest.set(out)
            batches.incrementAndGet()
          }
          ()
        }
        .option("checkpointLocation", s"$root/_chk")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      require(latest.get() != null, s"streaming MV drained zero non-empty batches from $frag")
      val total = Tables.artifactParquet(spark, latest.get()).agg(sum($"n_rows")).collect().head.getLong(0)
      lastStreamMv.set((batches.get, total))
      java.nio.file.Files.write(
        new java.io.File(root, "_latest").toPath,
        latest.get().getBytes("UTF-8")
      )
      new java.io.File(root, "_SUCCESS").createNewFile()
      ()
    }
  }

  /** Registered query `stream_mv_ingest`: serve the latest version of
    * the stream-maintained MV — same output contract (and oracle) as
    * `mv_incremental`, proving the continuous write path maintains the
    * identical aggregate. The serve reads the `_latest` pointer and a
    * groups-sized parquet; the corpus is never scanned at query time.
    */
  def streamMvServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = streamMvRoot(spark, dir)
    val latest = new String(
      java.nio.file.Files.readAllBytes(new java.io.File(root, "_latest").toPath),
      "UTF-8"
    )
    Tables.artifactParquet(spark, latest)
      .select(
        $"l_returnflag",
        $"l_linestatus",
        $"n_rows",
        $"sum_qty".cast("long").as("sum_qty"),
        $"sum_price".cast("double").as("sum_price"),
        round($"sum_price".cast("double") / $"n_rows", 4).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  // ---- snapshot expiry / vacuum (the retention half of the lifecycle) --

  val VacCompactFiles = 4

  /** Spec ledger: (files physically deleted, live files retained) by
    * the last [[vacuumScan]] expiry pass in this JVM.
    */
  private[graft] val lastVacuum =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Builds the vacuum lineage (its own fingerprinted dirs, separate
    * from the incremental layout's, because expiry DELETES files):
    * commits v0..v2 are the ingest ticks (same slice recipe and
    * z-clustered write as [[incTick]]), commit v3 is a COMPACTION
    * rewrite of the live data into [[VacCompactFiles]] z-ordered files
    * plus their manifest — the snapshot that logically supersedes every
    * tick file. Returns (tick data dirs, compacted dir, manifest dir).
    */
  private[graft] def vacuumLineage(spark: SparkSession, dir: String): (Seq[String], String, String) = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val tickDirs = (0 until IncSlices).map { k =>
      Warehouse.tmpDirOnce(s"graft_vacd${k}_", fp) { path =>
        incSlice(spark, dir, k)
          .withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
          .repartitionByRange(IncSliceFiles(k), $"z")
          .sortWithinPartitions($"z")
          .drop("z")
          .write
          .mode("overwrite")
          .parquet(path)
      }
    }
    // the compaction commit MUST land before any expiry deletes ticks
    val comp = Warehouse.tmpDirOnce("graft_vacc_", fp) { path =>
      Tables.artifactParquet(spark, tickDirs: _*)
        .withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
        .repartitionByRange(VacCompactFiles, $"z")
        .sortWithinPartitions($"z")
        .drop("z")
        .write
        .mode("overwrite")
        .parquet(path)
    }
    val man = Warehouse.tmpDirOnce("graft_vacm_", fp) { path =>
      Tables.artifactParquet(spark, comp)
        .groupBy(input_file_name().as("file"))
        .agg(
          min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
          min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
        )
        .write
        .mode("overwrite")
        .parquet(path)
    }
    (tickDirs, comp, man)
  }

  private def dataFiles(dirPath: String): Seq[java.io.File] =
    Option(new java.io.File(dirPath).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .toSeq

  /** Snapshot expiry: retain only the latest snapshot (v3, the
    * compaction commit) and physically delete every data file that is
    * referenced EXCLUSIVELY by the expired snapshots v0..v2 — i.e. a
    * tick file absent from the live (compacted) file set. The live-set
    * check is by absolute path, so a file reachable from any retained
    * snapshot can never be deleted; the _SUCCESS markers stay in the
    * tick dirs so the build-once guard never resurrects expired files.
    * Idempotent: a second pass finds nothing to delete.
    */
  private[graft] def vacuumExpire(tickDirs: Seq[String], comp: String): (Int, Int) = {
    val live = dataFiles(comp).map(_.getAbsolutePath).toSet
    var deleted = 0
    tickDirs.foreach { d =>
      dataFiles(d).foreach { f =>
        if (!live.contains(f.getAbsolutePath) && f.delete()) deleted += 1
      }
    }
    (deleted, live.size)
  }

  /** Registered query `layout_vacuum`: run the full retention story —
    * tick commits, compaction commit, snapshot expiry (keep latest),
    * physical file deletion — then prove the surviving snapshot still
    * answers EXACTLY: the full-table aggregate over the post-vacuum
    * compacted files (`snapshot_v3`) and the manifest-pruned box scan
    * over the same files (`pruned_box`), both replayed by the oracle on
    * the raw table. At 100 TB this is the half of the Iceberg/Delta
    * story that caps storage: vacuum cost is O(expired files) metadata
    * + deletes, reads after vacuum cost exactly what they cost before,
    * and the retained manifest keeps pruning.
    */
  def vacuumScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tickDirs, comp, man) = vacuumLineage(spark, dir)
    lastVacuum.set(vacuumExpire(tickDirs, comp))
    val keep = Tables.artifactParquet(spark, man)
      .filter($"pmax" >= PartLo && $"pmin" <= PartHi && $"smax" >= SuppLo && $"smin" <= SuppHi)
      .select($"file")
      .collect()
      .map(_.getString(0))
    val prunedBase =
      if (keep.isEmpty) Tables.artifactParquet(spark, comp).filter(lit(false))
      else Tables.artifactParquet(spark, keep.toIndexedSeq: _*)
    def agg(df: DataFrame, metric: String) =
      df.groupBy()
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .select(lit(metric).as("metric"), $"n_rows", $"sum_qty", $"revenue")
    agg(
      prunedBase.filter($"l_partkey".between(PartLo, PartHi) && $"l_suppkey".between(SuppLo, SuppHi)),
      "pruned_box"
    )
      .unionByName(agg(Tables.artifactParquet(spark, comp), "snapshot_v3"))
      .orderBy($"metric")
  }

  // ---- schema evolution (add-column, merge-on-read) --------------------

  private val EvoBaseCols = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")

  /** The add-column lineage: tick 0 lands with the base schema, tick 1
    * starts carrying `l_discount`, tick 2 additionally `l_tax` — the
    * way production schemas actually evolve under continuous ingest.
    * Old files are NEVER rewritten: evolution is a metadata fact, and
    * each tick's files physically contain exactly the columns that
    * existed when it landed.
    */
  private[queries] def evoDirs(spark: SparkSession, dir: String): Seq[String] = {
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    (0 until IncSlices).map { k =>
      Warehouse.tmpDirOnce(s"graft_evo_d${k}_", fp) { path =>
        val cols = EvoBaseCols ++
          (if (k >= 1) Seq("l_discount") else Nil) ++
          (if (k >= 2) Seq("l_tax") else Nil)
        incSlice(spark, dir, k)
          .select(cols.map(col): _*)
          .coalesce(2)
          .write
          .mode("overwrite")
          .parquet(path)
      }
    }
  }

  /** Registered query `layout_schema_evolution`: the merged-schema read
    * over the add-column lineage. `mergeSchema` unions the per-file
    * schemas at planning time and the reader nulls the columns a file
    * predates — so widening a 100 TB table costs ZERO data rewrite and
    * queries see one consistent wide schema immediately. The aggregate
    * exercises both regimes per group: counts over the evolved columns
    * count exactly the rows from ticks that carried them (the oracle
    * replays presence through the tick predicates on the raw table),
    * and sums stay exact decimals over the present subset.
    */
  def schemaEvolutionScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dirs = evoDirs(spark, dir)
    spark.read
      .option("mergeSchema", "true")
      .parquet(dirs: _*)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        count($"l_discount").as("n_disc"),
        sum($"l_discount".cast("decimal(18,2)")).cast("double").as("sum_disc"),
        count($"l_tax").as("n_tax")
      )
      .orderBy($"l_returnflag")
  }

  // ---- partition-spec evolution (metadata-only repartitioning) ---------

  /** The pruning window of the spec-evolution scan (inside the fixture
    * shipdate range at every scale factor).
    */
  val SpecEvoYear = 1997
  val SpecEvoMonths: Seq[Int] = Seq(3, 4)
  val SpecEvoLo = "1997-03-01"
  val SpecEvoHi = "1997-05-01" // exclusive

  /** The partition spec each tick writes under: tick 0 landed when the
    * table was partitioned by year (spec A); later ticks landed after
    * the spec evolved to year+month (spec B). Iceberg semantics: the
    * spec is METADATA — evolving it rewrites nothing, it only changes
    * how NEW files are laid out, and every segment remembers the spec
    * it was written under.
    */
  private[queries] def specEvoCols(k: Int): Seq[String] =
    if (k == 0) Seq("p_year") else Seq("p_year", "p_month")

  /** Builds (once per fingerprint) tick k's segment of the spec-evolved
    * table: data files Hive-partitioned under the tick's OWN spec
    * (`files/p_year=…[/p_month=…]`) plus a `_spec` ledger naming that
    * spec — the per-segment spec-id every Iceberg manifest carries.
    * The parquet lands in a `files/` subdir so the committer's own
    * _SUCCESS cannot satisfy the build-once sentinel before the ledger
    * exists; the root marker is touched last (morPurgedDir discipline).
    * Old segments are NEVER rewritten by later ticks — each tick is its
    * own immutable artifact, and the spec pins tick 0's physical bytes
    * across the later builds.
    */
  private[queries] def specEvoTick(spark: SparkSession, dir: String, fp: String, k: Int): String = {
    import spark.implicits._
    Warehouse.tmpDirOnce(s"graft_pspec_d${k}_", fp) { path =>
      val cols = specEvoCols(k)
      incSlice(spark, dir, k)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_returnflag", $"l_shipdate")
        .withColumn("p_year", year($"l_shipdate"))
        .withColumn("p_month", month($"l_shipdate"))
        .select(
          (Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate") ++ cols)
            .map(col): _*
        )
        .write
        .partitionBy(cols: _*)
        .mode("overwrite")
        .parquet(s"$path/files")
      java.nio.file.Files.write(
        new java.io.File(path, "_spec").toPath,
        cols.mkString("", ",", "\n").getBytes("UTF-8")
      )
      new java.io.File(path, "_SUCCESS").createNewFile()
      ()
    }
  }

  private[graft] def specEvoSpecOf(segDir: String): Seq[String] =
    new String(
      java.nio.file.Files.readAllBytes(new java.io.File(segDir, "_spec").toPath),
      "UTF-8"
    ).trim.split(",").toSeq

  /** Registered query `layout_spec_evolution`: the lifecycle verb that
    * re-partitions a 100 TB table for FREE. The table's partition spec
    * evolved between ticks (year → year+month); scan planning consults
    * each segment's recorded `_spec` and prunes it under ITS OWN spec —
    * the year-only segment prunes to the year's directories, the
    * evolved segments prune to exactly the months in the window — then
    * the exact date predicate applies as the residual filter, so the
    * answer never depends on pruning, only the bytes read do. The
    * per-segment pruning is generic (driven by the ledger, not the tick
    * number), old files are provably never rewritten (spec-pinned
    * bytes), and the oracle replays the window from the raw table —
    * proving the merged read over heterogeneous specs lost nothing.
    */
  def specEvolutionScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val ticks = (0 until IncSlices).map(k => specEvoTick(spark, dir, fp, k))
    val segs = ticks.map { seg =>
      // MEASURED EXCEPTION to the artifact reader memo (r20
      // continuation): this is the one PARTITIONED artifact
      // (partitionBy(p_year[,p_month]) trees), and routing it through
      // Tables.artifactParquet regressed the steady serve 0.62–0.84 →
      // 1.67–1.72 s (isolated, reproducible, alternating JVMs on one
      // quiet window) — the memo's recursive listing fingerprint walks
      // every leaf dir + crc sibling per segment per serve, while fresh
      // partition-discovery construction already rides the session's
      // shared FileStatusCache. Flat artifact dirs keep the memo (wins
      // measured on 6 of 8 family queries); partitioned trees read
      // fresh.
      val pruned = specEvoSpecOf(seg).foldLeft(spark.read.parquet(s"$seg/files")) {
        case (df, "p_year") => df.filter($"p_year" === SpecEvoYear)
        case (df, "p_month") => df.filter($"p_month".isin(SpecEvoMonths: _*))
        case (df, other) => sys.error(s"unknown partition column in $seg/_spec: $other")
      }
      pruned.select($"l_quantity", $"l_extendedprice", $"l_returnflag", $"l_shipdate")
    }
    segs
      .reduce(_ unionByName _)
      .filter(
        $"l_shipdate" >= lit(SpecEvoLo).cast("timestamp") &&
          $"l_shipdate" < lit(SpecEvoHi).cast("timestamp")
      )
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }

  // ---- incremental materialized-view maintenance -----------------------

  /** Spec ledger: DELTA input rows aggregated by MV maintenance in
    * this JVM. The incremental contract: after N ticks the counter
    * equals the TABLE row count — each row aggregated exactly once,
    * when its tick landed — and further serves leave it unchanged
    * (a full refresh would re-aggregate the whole table every tick).
    */
  private[graft] val mvRowsAggregated = new java.util.concurrent.atomic.AtomicLong

  /** Materialized-view tick k: mv_k = merge(mv_{k-1}, aggregate(slice
    * k)) — incremental view maintenance for the self-maintainable
    * aggregates (count / sum; avg derives at serve time). The delta
    * aggregate reads ONLY the arriving slice, and the merge is an
    * aggregate over mv_{k-1} ∪ delta — both GROUP-sized frames, so
    * maintenance cost per tick is O(slice scan) + O(groups), never a
    * table rescan. Sums stay exact decimals until the serve casts
    * once. This is the Delta Live Tables / Materialize shape: the MV
    * is a versioned warehouse artifact advanced by commits.
    */
  private def mvTick(spark: SparkSession, dir: String, fp: String, k: Int): String = {
    import spark.implicits._
    val prev = if (k == 0) None else Some(mvTick(spark, dir, fp, k - 1))
    Warehouse.tmpDirOnce(s"graft_mv${k}_", fp) { path =>
      val delta = incSlice(spark, dir, k)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_price")
        )
      val merged = prev match {
        case None => delta
        case Some(p) =>
          Tables.artifactParquet(spark, p)
            .unionByName(delta)
            .groupBy($"l_returnflag", $"l_linestatus")
            .agg(
              sum($"n_rows").as("n_rows"),
              sum($"sum_qty").as("sum_qty"),
              sum($"sum_price").cast("decimal(38,2)").as("sum_price")
            )
      }
      merged.coalesce(1).write.mode("overwrite").parquet(path)
      // ledger: the delta's own row count (Σ n_rows of the slice
      // aggregate — a groups-sized read, not a rescan)
      val deltaRows = Tables.artifactParquet(spark, path)
        .agg(sum($"n_rows"))
        .collect()
        .head
        .getLong(0)
      val prevRows = prev
        .map(p => Tables.artifactParquet(spark, p).agg(sum($"n_rows")).collect().head.getLong(0))
        .getOrElse(0L)
      mvRowsAggregated.addAndGet(deltaRows - prevRows)
      ()
    }
  }

  /** Registered query `mv_incremental`: serve the tick-maintained
    * materialized aggregate. The MV was advanced by [[IncSlices]]
    * ingest commits, each aggregating only its slice; the serve is a
    * groups-sized artifact read (no corpus scan at all — the steady-
    * state cost a 100 TB dashboard query actually pays), with avg
    * derived from the exact stored sums. The oracle aggregates the
    * raw table in full, proving maintenance lost nothing.
    */
  def mvServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val last = mvTick(spark, dir, fp, IncSlices - 1)
    Tables.artifactParquet(spark, last)
      .select(
        $"l_returnflag",
        $"l_linestatus",
        $"n_rows",
        $"sum_qty".cast("long").as("sum_qty"),
        $"sum_price".cast("double").as("sum_price"),
        round($"sum_price".cast("double") / $"n_rows", 4).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Registered query `mv_snapshot`: TIME TRAVEL over the materialized
    * view — the missing symmetry: the layout already serves as-of reads
    * ([[snapshotScan]]) because its commits are immutable artifacts,
    * and the MV's versions are exactly as immutable (mv_k is written
    * once per tick and never touched again), so "the dashboard as of
    * commit k" is the same metadata-selection read. The audit serves
    * EVERY version in one output — version k's rows come straight off
    * the stored mv_k artifact (groups-sized; no corpus scan, no
    * re-aggregation, plan-pinned) — and the oracle recomputes each
    * version from the raw table through the cumulative tick predicates,
    * proving every historical serve is exactly what a full refresh at
    * that commit would have answered. At 100 TB this is why MV history
    * is free to keep: versions cost groups-sized parquet each, and
    * as-of reads never touch the fact table.
    */
  def mvSnapshotServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    (0 until IncSlices)
      .map(k => Tables.artifactParquet(spark, mvTick(spark, dir, fp, k)).withColumn("version", lit(k.toLong)))
      .reduce(_ unionByName _)
      .select(
        $"version",
        $"l_returnflag",
        $"l_linestatus",
        $"n_rows",
        $"sum_qty".cast("long").as("sum_qty"),
        $"sum_price".cast("double").as("sum_price"),
        round($"sum_price".cast("double") / $"n_rows", 4).as("avg_price")
      )
      .orderBy($"version", $"l_returnflag", $"l_linestatus")
  }

  // ---- MV retention / vacuum (expiry for the MV version history) -------

  /** How many MV versions `mv_vacuum` retains (the last K commits). */
  val MvRetain = 2

  /** Spec ledger: (data files physically deleted, live files retained)
    * by the last [[mvVacuumServe]] expiry pass in this JVM.
    */
  private[graft] val lastMvVacuum =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Builds the MV VACUUM lineage — its own fingerprinted artifact,
    * separate from the shared `graft_mv*` versions, because expiry
    * DELETES files and the shared history must keep serving
    * `mv_snapshot`. All [[IncSlices]] versions live under ONE root
    * (`v0/…/v{n-1}`) whose root-level `_SUCCESS` is touched LAST, after
    * every version dir is complete — the streamMvRoot discipline — so a
    * crash mid-lineage can never leave a partial history that passes
    * the build-once check; and once vacuum empties an expired version
    * dir the surviving marker keeps the guard from resurrecting it.
    * Each version is the same merge recipe as the shared MV ticks:
    * v_k = fold(v_{k-1} ∪ slice-k delta).
    */
  private[queries] def mvVacRoot(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    Warehouse.tmpDirOnce("graft_mvvac_", fp) { path =>
      (0 until IncSlices).foldLeft(Option.empty[String]) { (prev, k) =>
        val delta = incSlice(spark, dir, k)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            count(lit(1)).as("n_rows"),
            sum($"l_quantity").as("sum_qty"),
            sum($"l_extendedprice".cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_price")
          )
        val merged = prev match {
          case None => delta
          case Some(p) =>
            Tables.artifactParquet(spark, p)
              .unionByName(delta)
              .groupBy($"l_returnflag", $"l_linestatus")
              .agg(
                sum($"n_rows").as("n_rows"),
                sum($"sum_qty").as("sum_qty"),
                sum($"sum_price").cast("decimal(38,2)").as("sum_price")
              )
        }
        merged.coalesce(1).write.mode("overwrite").parquet(s"$path/v$k")
        Some(s"$path/v$k")
      }
      new java.io.File(path, "_SUCCESS").createNewFile()
      ()
    }
  }

  /** Snapshot expiry for the MV history: retain the last [[MvRetain]]
    * versions and physically delete the data files of every older
    * version — the `layout_vacuum` live-set discipline applied to MV
    * artifacts: the live set is the file list of the retained version
    * dirs (each MV version is a self-contained artifact, so expired
    * dirs share nothing with it by construction, and the by-path check
    * makes that structural rather than assumed). Version dirs and the
    * root `_SUCCESS` survive, so the build-once guard never rebuilds —
    * and never resurrects — an expired version. Idempotent: a second
    * pass finds nothing to delete.
    */
  private[graft] def mvVacuumExpire(root: String): (Int, Int) = {
    val dirs = (0 until IncSlices).map(k => s"$root/v$k")
    val (expired, retained) = dirs.splitAt(IncSlices - MvRetain)
    val live = retained.flatMap(dataFiles).map(_.getAbsolutePath).toSet
    var deleted = 0
    expired.foreach { d =>
      dataFiles(d).foreach { f =>
        if (!live.contains(f.getAbsolutePath) && f.delete()) deleted += 1
      }
    }
    (deleted, live.size)
  }

  /** Registered query `mv_vacuum`: the retention verb the MV family was
    * missing — `mv_snapshot` keeps one immutable groups-sized artifact
    * per commit FOREVER; this expires all but the last [[MvRetain]]
    * versions (physical deletes, idempotent) and proves time travel
    * over the RETAINED versions still answers exactly: each surviving
    * version's rows come straight off its stored artifact and the
    * oracle recomputes them from the raw table through the cumulative
    * tick predicates. At 100 TB this is what caps MV history cost:
    * expiry is O(expired artifacts) metadata + deletes (never a fact-
    * table touch), and retained as-of reads cost exactly what they cost
    * before the vacuum.
    */
  def mvVacuumServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mvVacRoot(spark, dir)
    lastMvVacuum.set(mvVacuumExpire(root))
    (IncSlices - MvRetain until IncSlices)
      .map(k => Tables.artifactParquet(spark, s"$root/v$k").withColumn("version", lit(k.toLong)))
      .reduce(_ unionByName _)
      .select(
        $"version",
        $"l_returnflag",
        $"l_linestatus",
        $"n_rows",
        $"sum_qty".cast("long").as("sum_qty"),
        $"sum_price".cast("double").as("sum_price"),
        round($"sum_price".cast("double") / $"n_rows", 4).as("avg_price")
      )
      .orderBy($"version", $"l_returnflag", $"l_linestatus")
  }

  // ---- row-level deletes: merge-on-read deletion vectors ---------------

  val MorFiles = 8

  /** The row-level DELETE the deletion-vector commit encodes: a "part
    * recall" over the low-partkey range. Correlated with the layout's
    * cluster dimension on purpose — that is the production shape (a
    * GDPR user purge against a user-clustered table), and it is what
    * makes the purge's only-rewrite-affected-files claim non-vacuous:
    * rows to delete live in FEW files of the z-clustered layout.
    */
  val MorPartHi = 47
  private def morPred(spark: SparkSession): Column = {
    import spark.implicits._
    $"l_partkey" <= MorPartHi
  }
  private val MorKeys = Seq("mor_rid")

  /** Base layout for the merge-on-read lineage: the lineitem corpus as
    * [[MorFiles]] immutable z-clustered data files (its own
    * fingerprinted dir, separate from the shared zorder artifact,
    * because the purge rewrite retires files from it). The write
    * materializes a row-lineage id (`mor_rid`) — the Iceberg-v3
    * row-lineage / Delta row-tracking shape: lineitem has no natural
    * unique key ((l_orderkey, l_linenumber) collides), and row-level
    * deletes need one, so the table format assigns it at write time.
    * The id only needs to be unique WITHIN the stored artifact; every
    * downstream commit (DV, purge) derives from the stored files.
    */
  private[queries] def morDataDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    Warehouse.tmpDirOnce("graft_mord_", fp) { path =>
      Tables
        .lineitem(spark, dir)
        .withColumn("z", zValue($"l_partkey".cast("int"), $"l_suppkey".cast("int")))
        .repartitionByRange(scaledRangeFiles(spark, MorFiles, s"$dir/lineitem.parquet"), $"z")
        .sortWithinPartitions($"z")
        .drop("z")
        .withColumn("mor_rid", monotonically_increasing_id())
        .write
        .mode("overwrite")
        .parquet(path)
    }
  }

  /** Fingerprint for artifacts DERIVED from the stored MoR layout (DV,
    * purge, takedown queue/DVs): the corpus fingerprint × the parent
    * build's commit time. Derived commits reference the parent by
    * row-lineage id and by data-file NAME (the purge's `_affected`
    * list), so a parent that is retired and rebuilt — e.g. a
    * different-corpus run's cross-fingerprint retirement sweeping the
    * shared `graft_mord_` prefix while the single-consumer children
    * survive — MUST invalidate every child: new part-file UUIDs make
    * the recorded names dangle, and the lineage assignment is not
    * contractually stable across rebuilds. Coupling the child
    * fingerprint to the parent epoch makes the chain self-healing: a
    * rebuilt parent yields fresh child names, and each child's own
    * build-once retirement sweeps its stale predecessors.
    */
  private[queries] def morChildFp(spark: SparkSession, dir: String): String = {
    val data = morDataDir(spark, dir)
    // parent epoch = a digest of the parent's part-file LISTING
    // (names + lengths), not the _SUCCESS mtime: committer part-file
    // names carry a fresh task UUID per build, so any rebuild changes
    // the digest even on filesystems with coarse (1 s) mtime
    // resolution, where a retire+rebuild completing within one tick
    // would leave stale children dangling
    // null-guard the listing (the parent dir can vanish between the
    // tmpDirOnce check and this walk — /tmp cleanup), and fold the
    // _SUCCESS marker's PRESENCE into the digest: an incomplete parent
    // write (part files landed, commit marker absent) must digest as a
    // different epoch than the completed build, not as a valid parent
    val files = Option(new java.io.File(data).listFiles()).getOrElse(Array.empty[java.io.File])
    val listing = files
      .filter(f => f.getName.startsWith("part-"))
      .map(f => s"${f.getName}:${f.length}")
      .sorted
      .mkString(",") + s";_SUCCESS=${files.exists(_.getName == "_SUCCESS")}"
    val epoch = java.security.MessageDigest
      .getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .take(6)
      .map("%02x".format(_))
      .mkString
    s"${Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")}e$epoch"
  }

  /** The DELETE commit: a key-delete file — the row-lineage ids of the
    * rows the predicate kills, written as one tiny parquet (the shape a
    * MERGE … DELETE / CDC-apply lands as in Iceberg/Delta). The data
    * files are NOT touched: at 100 TB a row-level delete that rewrote
    * data files would turn a kilobyte of intent into a terabyte of
    * I/O. Readers apply the DV with a broadcast anti-join
    * (merge-on-read); because lineage ids are unique, the live set is
    * exactly the non-matching rows, which is what the oracle replays.
    */
  private[queries] def morDvDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = morChildFp(spark, dir)
    Warehouse.tmpDirOnce("graft_mordv_", fp) { path =>
      Tables.artifactParquet(spark, morDataDir(spark, dir))
        .filter(morPred(spark))
        .select(MorKeys.map(col): _*)
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(path)
    }
  }

  private[graft] def morLedger(spark: SparkSession, dir: String): (Long, Int, Int) = {
    val f = new java.io.File(morPurgedDir(spark, dir), "_ledger")
    val parts = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8"
    ).trim.split(" ")
    (parts(0).toLong, parts(1).toInt, parts(2).toInt)
  }

  /** The compaction half of merge-on-read: purge materializes the
    * deletes by rewriting ONLY the data files that contain a deleted
    * row (found by a semi-join of the file-tagged scan against the DV —
    * the same metadata-scale decision an Iceberg `rewrite_data_files`
    * with a delete-file filter makes). Untouched files are carried by
    * reference; the purged layout needs no DV at read time. The build
    * writes a `_ledger` ("dvRows affectedFiles totalFiles") next to the
    * rewritten files so the spec can audit scope without re-deriving it.
    * The rewritten parquet lands in a `files/` SUBDIR so the committer's
    * own _SUCCESS can't satisfy the build-once sentinel early: the
    * root-level marker is touched LAST, after the ledger files — the
    * streamMvRoot discipline — so a crash mid-build can never leave an
    * artifact that passes the completeness check but throws on
    * [[morLedger]]/[[morAffectedFiles]].
    */
  private[queries] def morPurgedDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = morChildFp(spark, dir)
    Warehouse.tmpDirOnce("graft_morp_", fp) { path =>
      val data = morDataDir(spark, dir)
      val dv = Tables.artifactParquet(spark, morDvDir(spark, dir))
      val tagged = Tables.artifactParquet(spark, data).withColumn("f", input_file_name())
      val affected = tagged
        .join(broadcast(dv), MorKeys, "left_semi")
        .select($"f")
        .distinct()
        .collect()
        .map(_.getString(0))
        .sorted
      val total = dataFiles(data).length
      val rewritten = (
        if (affected.isEmpty) Tables.artifactParquet(spark, data).limit(0)
        else Tables.artifactParquet(spark, affected.toIndexedSeq: _*)
      )
        .join(broadcast(dv), MorKeys, "left_anti")
        .coalesce(math.max(1, affected.length))
      rewritten.write.mode("overwrite").parquet(s"$path/files")
      java.nio.file.Files.write(
        new java.io.File(path, "_ledger").toPath,
        s"${dv.count()} ${affected.length} $total\n".getBytes("UTF-8")
      )
      java.nio.file.Files.write(
        new java.io.File(path, "_affected").toPath,
        affected.mkString("", "\n", "\n").getBytes("UTF-8")
      )
      new java.io.File(path, "_SUCCESS").createNewFile()
      ()
    }
  }

  private[graft] def morAffectedFiles(spark: SparkSession, dir: String): Set[String] =
    new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(morPurgedDir(spark, dir), "_affected").toPath
      ),
      "UTF-8"
    ).split("\n").filter(_.nonEmpty).toSet

  /** Merge-on-read serve: scan ∖ DV via a broadcast LeftAnti hash join
    * (the DV is kilobytes at any table size, so the join adds one
    * codegen'd hash probe per row — no shuffle, no sort).
    */
  private[graft] def morRead(spark: SparkSession, dir: String): DataFrame =
    Tables.artifactParquet(spark, morDataDir(spark, dir))
      .join(broadcast(Tables.artifactParquet(spark, morDvDir(spark, dir))), MorKeys, "left_anti")

  /** Post-purge serve: untouched files by reference + the rewritten
    * files — an ordinary scan, no DV work at all.
    */
  private[graft] def morPurgedRead(spark: SparkSession, dir: String): DataFrame = {
    val purged = morPurgedDir(spark, dir)
    val affected = morAffectedFiles(spark, dir)
    val untouched = dataFiles(morDataDir(spark, dir))
      .map(_.getAbsolutePath)
      .filterNot(p => affected.exists(_.endsWith(p)))
    Tables.artifactParquet(spark, (untouched ++ dataFiles(s"$purged/files").map(_.getAbsolutePath)): _*)
  }

  /** Registered query `layout_deletes`: the merge-on-read row-level
    * delete lifecycle. A DELETE lands as a key-delete file over the
    * write-time row-lineage ids (data files untouched — the
    * kilobytes-of-intent contract); `mor_read` serves scan-minus-DV
    * through a broadcast anti-join; purge then materializes the delete
    * by rewriting ONLY the affected files and `purged_read` proves the
    * compacted form answers identically. Lineage ids are unique, so
    * the live set is exactly the rows the predicate spared — which is
    * what the oracle replays from the raw table.
    */
  def morScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def agg(df: DataFrame, metric: String) =
      df.groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .select(lit(metric).as("metric"), $"l_returnflag", $"n_rows", $"sum_qty", $"revenue")
    agg(morRead(spark, dir), "mor_read")
      .unionByName(agg(morPurgedRead(spark, dir), "purged_read"))
      .orderBy($"metric", $"l_returnflag")
  }

  // ---- streaming layout takedown (the delete verb's continuous form) ---

  /** Spec ledger: (non-empty micro-batches, DV commits written, final
    * cumulative DV rows) of the last streaming-takedown build in this
    * JVM.
    */
  private[graft] val lastStreamTakedown =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Long)]((0, 0, 0L))

  private val StreamTakedownQueueFiles = 6

  /** Builds (once per fingerprint) the STREAM-maintained takedown state
    * for the data-file family — the continuous form of [[morDvDir]]'s
    * one-shot DELETE commit, symmetric with the lexical index's
    * `stream_bm25_takedown`: victim row-lineage ids arrive as a
    * Structured Streaming file source (the purge predicate's ids,
    * fragmented so the queue drains across several micro-batches), and
    * `foreachBatch` IS the delete commit — each batch appends its OWN
    * kilobyte key-delete file (`dv_<batch>/`), exactly the
    * one-delete-file-per-commit shape an Iceberg/Delta CDC-apply lands.
    * Data files are NEVER touched (spec pins a byte snapshot across the
    * whole drain); per-trigger cost ∝ that batch's victims. Because the
    * DV is a set union of disjoint key files, N partial takedowns equal
    * the one-shot DV EXACTLY — spec-pinned against [[morDvDir]]. The
    * checkpoint lives inside the artifact and the root _SUCCESS marker
    * is written LAST (the streamIngestRoot discipline), so a crashed
    * build can never pass the build-once check with missing commits.
    */
  private[graft] def streamTakedownRoot(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val data = morDataDir(spark, dir)
    val fp = morChildFp(spark, dir)
    val frag = Warehouse.tmpDirOnce("graft_morsdq_", fp) { path =>
      Tables.artifactParquet(spark, data)
        .filter(morPred(spark))
        .select(MorKeys.map(col): _*)
        .repartition(StreamTakedownQueueFiles)
        .write
        .mode("overwrite")
        .parquet(path)
    }
    Warehouse.tmpDirOnce("graft_morsd_", fp) { root =>
      new java.io.File(root).mkdirs()
      val schema = Tables.artifactParquet(spark, frag).schema
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(frag)
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
          if (!df.isEmpty) {
            df.coalesce(1).write.mode("overwrite").parquet(s"$root/dv_$id")
            batches.incrementAndGet()
          }
          ()
        }
        .option("checkpointLocation", s"$root/_chk")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val dvs = streamTakedownDvDirs(root)
      val dvRows =
        if (dvs.isEmpty) 0L else Tables.artifactParquet(spark, dvs: _*).count()
      lastStreamTakedown.set((batches.get, dvs.length, dvRows))
      new java.io.File(root, "_SUCCESS").createNewFile()
      ()
    }
  }

  private[graft] def streamTakedownDvDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("dv_"))
      .map(_.getAbsolutePath)
      .sorted
      .toSeq

  /** The takedown-stream serve: scan ∖ (accumulated DV commits) via one
    * broadcast LeftAnti probe — the union of the per-batch key files is
    * kilobytes at any table size, so the serve shape is bit-identical
    * to [[morRead]] no matter how many commits the stream has landed.
    */
  private[graft] def streamTakedownRead(spark: SparkSession, dir: String): DataFrame = {
    val root = streamTakedownRoot(spark, dir)
    val dvs = streamTakedownDvDirs(root)
    val base = Tables.artifactParquet(spark, morDataDir(spark, dir))
    if (dvs.isEmpty) base
    else base.join(broadcast(Tables.artifactParquet(spark, dvs: _*)), MorKeys, "left_anti")
  }

  // the box the pruned takedown serve scans: overlaps the victim range
  // (l_partkey <= MorPartHi) on purpose, so BOTH the manifest pruning
  // and the DV anti-join are load-bearing in one query — a box disjoint
  // from the victims would never exercise delete semantics
  val MorBoxPartLo = 32; val MorBoxPartHi = 96
  val MorBoxSuppLo = 8; val MorBoxSuppHi = 24

  /** Per-file (min,max) manifest of the takedown-maintained MoR layout —
    * the same metadata layer [[manifestTable]] persists for the shared
    * z-order artifact, built once per PARENT EPOCH ([[morChildFp]]) so a
    * rebuilt parent invalidates it with the other MoR children. One
    * stats pass at build time; production writers emit these stats
    * during the write itself.
    */
  private[queries] def morManifestTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val data = morDataDir(spark, dir)
    val fp = morChildFp(spark, dir)
    val t = s"graft_mormanifest_$fp"
    Warehouse.buildOnce(spark, Seq("graft_mormanifest_"), Seq(t)) {
      Tables.artifactParquet(spark, data)
        .groupBy(input_file_name().as("file"))
        .agg(
          min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
          min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
        )
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Registered query `stream_layout_takedown_pruned`: the BOUNDED read
    * over the stream-takedown-maintained layout — the fixture serve
    * (`stream_layout_takedown`) aggregates the whole table by design
    * (linear: it audits the full live set), but a 100 TB deployment
    * reads this layout through manifest pruning, and the MoR DV
    * composes with it for free: (1) the (tiny) manifest is filtered for
    * data files whose (partkey, suppkey) rectangle intersects the box —
    * only survivors' paths reach the reader, so skipped files are never
    * opened; (2) the accumulated per-batch key-delete commits apply as
    * ONE broadcast anti-join over the pruned rows. The box straddles
    * the victim range on purpose, so pruning alone can't answer — the
    * DV probe is load-bearing (spec pins both the pruned file count and
    * the planted-victim exclusion). Cost at any table size: manifest
    * rows (metadata-scale) + the few intersecting files + kilobytes of
    * DV.
    */
  def streamTakedownPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = streamTakedownRoot(spark, dir)
    val dvs = streamTakedownDvDirs(root)
    val keep = spark
      .table(morManifestTable(spark, dir))
      .filter(
        $"pmax" >= MorBoxPartLo && $"pmin" <= MorBoxPartHi &&
          $"smax" >= MorBoxSuppLo && $"smin" <= MorBoxSuppHi
      )
      .select($"file")
      .collect()
      .map(_.getString(0))
    lastTakedownPrunedFiles.set(keep.length)
    val base =
      if (keep.isEmpty) Tables.artifactParquet(spark, morDataDir(spark, dir)).filter(lit(false))
      else Tables.artifactParquet(spark, keep.toIndexedSeq: _*)
    val live =
      if (dvs.isEmpty) base
      else base.join(broadcast(Tables.artifactParquet(spark, dvs: _*)), MorKeys, "left_anti")
    live
      .filter(
        $"l_partkey".between(MorBoxPartLo, MorBoxPartHi) &&
          $"l_suppkey".between(MorBoxSuppLo, MorBoxSuppHi)
      )
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }

  /** Spec ledger: data files the last [[streamTakedownPrunedScan]] kept. */
  private[graft] val lastTakedownPrunedFiles =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Registered query `stream_layout_takedown`: the merge-on-read serve
    * AFTER the victim queue drained THROUGH THE STREAM — the same live
    * set as `layout_deletes`' DV serve (the oracle replays the purge
    * predicate's complement from the raw table), because the per-batch
    * key files partition the one-shot victim set and set union is
    * order-free. At 100 TB this is the GDPR pipeline's continuous
    * shape: deletion requests arrive forever, each micro-batch commits
    * kilobytes of intent, and no serve or commit ever rewrites a data
    * file — compaction (the `layout_deletes` purge path) stays a
    * separately-scheduled read-tax decision.
    */
  def streamTakedownScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    streamTakedownRead(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .select(lit("stream_takedown").as("metric"), $"l_returnflag", $"n_rows", $"sum_qty", $"revenue")
      .orderBy($"metric", $"l_returnflag")
  }

  // ---- change data feed (table_changes between commits) ----------------

  /** The CDF lineage: commit v1 = the base table (slice 0), commit
    * v2 = an insert tick (slices 1-2), commit v3 = a row-level DELETE
    * (the MoR key-file shape over the lineage ids of predicate rows
    * across v1∪v2). Each commit is its own immutable artifact, so the
    * change feed between any two versions is READ, never reconstructed
    * by diffing table states. Row lineage is the PAIR (cdc_commit,
    * cdc_rid): ids are unique within their commit by construction
    * (monotonically_increasing_id over that commit's write), and the
    * commit column makes cross-commit disjointness STRUCTURAL — no
    * numeric-offset scheme to outgrow when a commit is written with
    * enough input partitions to push ids past the offset (the id's
    * high bits are the partition id, so any fixed offset has a
    * partition-count cliff; the pair key has none).
    */
  private[queries] def cdcDirs(spark: SparkSession, dir: String): (String, String, String) = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val base = Warehouse.tmpDirOnce("graft_cdcb2_", fp) { path =>
      incSlice(spark, dir, 0)
        .withColumn("cdc_commit", lit(1L))
        .withColumn("cdc_rid", monotonically_increasing_id())
        .write
        .mode("overwrite")
        .parquet(path)
    }
    val ins = Warehouse.tmpDirOnce("graft_cdci2_", fp) { path =>
      incSlice(spark, dir, 1)
        .unionByName(incSlice(spark, dir, 2))
        .withColumn("cdc_commit", lit(2L))
        .withColumn("cdc_rid", monotonically_increasing_id())
        .write
        .mode("overwrite")
        .parquet(path)
    }
    val dv = Warehouse.tmpDirOnce("graft_cdcd2_", fp) { path =>
      Tables.artifactParquet(spark, base)
        .unionByName(Tables.artifactParquet(spark, ins))
        .filter($"l_partkey" <= MorPartHi)
        .select($"cdc_commit", $"cdc_rid")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(path)
    }
    (base, ins, dv)
  }

  /** Join key of the CDF delete commit: the structural row-lineage
    * pair — delete membership can only match rows of the commit that
    * minted the id.
    */
  private[queries] val CdcKeys = Seq("cdc_commit", "cdc_rid")

  /** Registered query `layout_changes`: the table_changes() read —
    * Delta CDF / Iceberg changelog semantics: each commit's change
    * rows come straight off that commit's own immutable artifact
    * (insert commits ARE their data files; the delete commit is its
    * key file joined back for payload), so reading the feed between
    * versions costs O(changed rows), never a table diff and never a
    * rewrite. At 100 TB this is what makes downstream incremental
    * consumers (the MV family here) possible: the feed is a read-side
    * contract of the commit log. The oracle replays each commit's
    * membership from the raw table through the slice/delete
    * predicates (lineage ids are unique, so the delete set is exactly
    * the predicate rows).
    */
  def changesScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, ins, dv) = cdcDirs(spark, dir)
    def agg(df: DataFrame, version: Int, ctype: String) =
      df.groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").cast("long").as("sum_qty")
        )
        .select(
          lit(version.toLong).as("version"),
          lit(ctype).as("change_type"),
          $"l_returnflag",
          $"n_rows",
          $"sum_qty"
        )
    val deleted = Tables.artifactParquet(spark, base)
      .unionByName(Tables.artifactParquet(spark, ins))
      .join(broadcast(Tables.artifactParquet(spark, dv)), CdcKeys, "left_semi")
    agg(Tables.artifactParquet(spark, base), 1, "insert")
      .unionByName(agg(Tables.artifactParquet(spark, ins), 2, "insert"))
      .unionByName(agg(deleted, 3, "delete"))
      .orderBy($"version", $"change_type", $"l_returnflag")
  }

  // ---- CDF-driven MV maintenance (the change feed's consumer) ----------

  /** Spec ledger: change-feed rows consumed by CDF-driven MV
    * maintenance in this JVM. The incremental contract: after the three
    * commits the counter equals |v1| + |v2| + |v3 deletes| — each change
    * row consumed exactly once, when its commit's feed was read — and
    * serves leave it unchanged.
    */
  private[graft] val cdfMvRowsConsumed = new java.util.concurrent.atomic.AtomicLong

  /** The table_changes(v, v) read: commit v's change rows straight off
    * that commit's own immutable artifact, signed (+1 insert /
    * −1 delete) — the exact frames [[changesScan]] aggregates, exposed
    * as the feed downstream consumers read.
    */
  private def tableChanges(spark: SparkSession, dir: String, v: Int): DataFrame = {
    import spark.implicits._
    val (base, ins, dv) = cdcDirs(spark, dir)
    v match {
      case 1 => Tables.artifactParquet(spark, base).withColumn("sign", lit(1L))
      case 2 => Tables.artifactParquet(spark, ins).withColumn("sign", lit(1L))
      case _ =>
        Tables.artifactParquet(spark, base)
          .unionByName(Tables.artifactParquet(spark, ins))
          .join(broadcast(Tables.artifactParquet(spark, dv)), CdcKeys, "left_semi")
          .withColumn("sign", lit(-1L))
    }
  }

  /** MV version v, advanced STRICTLY from the change feed: delta =
    * signed groups-sized aggregate of table_changes(v, v) — a delete
    * commit lands as NEGATIVE deltas, the composition that makes CDF
    * the MV family's input contract — merged with version v−1 by
    * addition (both frames groups-sized). Groups whose row count
    * reaches zero drop out of the view, exactly as a full recompute
    * would drop them.
    */
  private def cdfMvVersion(spark: SparkSession, dir: String, fp: String, v: Int): String = {
    import spark.implicits._
    val prev = if (v == 1) None else Some(cdfMvVersion(spark, dir, fp, v - 1))
    Warehouse.tmpDirOnce(s"graft_cmv${v}_", fp) { path =>
      val changes = tableChanges(spark, dir, v)
      val delta = changes
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          max($"sign").as("sign"), // constant within a commit
          count(lit(1)).as("cnt"),
          sum($"l_quantity").as("q"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("decimal(38,2)").as("p")
        )
        .select(
          $"l_returnflag",
          $"l_linestatus",
          ($"cnt" * $"sign").as("n_rows"),
          // negate, don't multiply: a decimal × decimal product would
          // re-derive precision; negation preserves the exact type
          when($"sign" === 1L, $"q").otherwise(-$"q").as("sum_qty"),
          when($"sign" === 1L, $"p").otherwise(-$"p").cast("decimal(38,2)").as("sum_price")
        )
      val merged = prev match {
        case None => delta
        case Some(p) =>
          Tables.artifactParquet(spark, p)
            .unionByName(delta)
            .groupBy($"l_returnflag", $"l_linestatus")
            .agg(
              sum($"n_rows").as("n_rows"),
              sum($"sum_qty").as("sum_qty"),
              sum($"sum_price").cast("decimal(38,2)").as("sum_price")
            )
            .filter($"n_rows" > 0)
      }
      merged.coalesce(1).write.mode("overwrite").parquet(path)
      // ledger: the feed rows this commit contributed — O(changed rows),
      // counted once at build (tmpDirOnce), never on a serve
      cdfMvRowsConsumed.addAndGet(changes.count())
      ()
    }
  }

  /** Registered query `mv_from_changes`: the change feed's registered
    * CONSUMER — the incremental MV advanced by table_changes() reads
    * alone, delete commit included as negative deltas. Maintenance per
    * commit is O(that commit's change rows) + O(groups); the serve is a
    * groups-sized artifact read. The oracle aggregates the raw table
    * through the NET commit predicates (inserts minus the delete
    * predicate), proving feed-driven maintenance ≡ recompute — the
    * read-side contract `layout_changes`'s docstring promises, now
    * closed end to end.
    */
  def mvFromChangesServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Warehouse.sourceFingerprint(spark, s"$dir/lineitem.parquet")
    val last = cdfMvVersion(spark, dir, fp, 3)
    Tables.artifactParquet(spark, last)
      .select(
        $"l_returnflag",
        $"l_linestatus",
        $"n_rows",
        $"sum_qty".cast("long").as("sum_qty"),
        $"sum_price".cast("double").as("sum_price"),
        round($"sum_price".cast("double") / $"n_rows", 4).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  // ---- as-of reads × deletion vectors -----------------------------------

  /** Registered query `layout_snapshot_deletes`: time travel COMPOSED
    * with row-level deletes — the as-of read a real lakehouse serves.
    * Snapshot v applies exactly the delete commits at-or-before v:
    * v1 = the base commit, v2 = v1 + the insert commit (the DV does NOT
    * apply yet — an as-of read BEFORE the delete commit still serves
    * the deleted rows, the point of snapshot isolation), v3 = v2 minus
    * the DV rows. One scan audits all three: each row read from commit
    * c is visible in versions c..(2 if deleted else 3), an
    * explode(sequence(...)) over per-row bounds — partial-aggregated to
    * #versions × #groups before the only exchange, so the as-of
    * composition costs one pass regardless of version count. The DV
    * joins on the STRUCTURAL lineage pair ([[CdcKeys]]) as a broadcast
    * left join; the oracle replays each version from the raw table
    * through the commit/delete predicates.
    */
  def snapshotDeletesScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, ins, dv) = cdcDirs(spark, dir)
    val marked = broadcast(
      Tables.artifactParquet(spark, dv).withColumn("del", lit(true))
    )
    Tables.artifactParquet(spark, base)
      .unionByName(Tables.artifactParquet(spark, ins))
      .join(marked, CdcKeys, "left")
      .select(
        $"l_quantity",
        $"l_extendedprice",
        explode(
          sequence(
            $"cdc_commit",
            when(coalesce($"del", lit(false)), lit(2L)).otherwise(lit(3L))
          )
        ).as("version")
      )
      .groupBy($"version".cast("long").as("version"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"version")
  }

  /** The registered query: a selective conjunctive box scan over the
    * z-ordered layout. Results are layout-invariant (the oracle runs
    * the same predicate on the raw table); the layout's value — most
    * files provably skippable from footer stats — is pinned by
    * LayoutSpec against the natural (insertion-order) layout where
    * almost none are.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark
      .table(zorderTable(spark, dir))
      .filter($"l_partkey".between(PartLo, PartHi) && $"l_suppkey".between(SuppLo, SuppHi))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
  }
}
