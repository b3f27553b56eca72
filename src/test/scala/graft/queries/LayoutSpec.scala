package graft.queries

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two halves of the z-order claim: (1) the layout is
  * result-invariant — the box query over the clustered table equals
  * the same query over the raw table; (2) the layout actually enables
  * skipping — for the box predicate, most z-ordered files' per-file
  * (min,max) rectangles provably miss the box (footer-stats
  * skippability), while a 1-D orderkey-sorted layout of the same data
  * can skip almost nothing. The per-file extremes are computed via
  * input_file_name(), i.e. from the data the footers describe.
  */
class LayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "layout-zorder")
  private val dir = "/root/testdata/sf0.001"

  test("z-ordered scan result equals the raw-table result") {
    import spark.implicits._
    val got = Layout.zorderScan(spark, dir).collect().map(_.toSeq).toSeq
    val want = Tables
      .lineitem(spark, dir)
      .filter(
        $"l_partkey".between(Layout.PartLo, Layout.PartHi) &&
          $"l_suppkey".between(Layout.SuppLo, Layout.SuppHi)
      )
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(got === want)
  }

  /** Fraction of files whose (min,max) box in the two filter columns
    * does not intersect the query box — exactly the decision a
    * footer-stats pruner makes, so this measures skippability without
    * depending on reader internals.
    */
  private def skippableFraction(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
    import spark.implicits._
    val stats = df
      .groupBy(input_file_name().as("f"))
      .agg(
        min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
        min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax")
      )
      .collect()
    val n = stats.length.toLong
    val skippable = stats.count { r =>
      val (pmin, pmax) = (r.getLong(1), r.getLong(2))
      val (smin, smax) = (r.getLong(3), r.getLong(4))
      pmax < Layout.PartLo || pmin > Layout.PartHi || smax < Layout.SuppLo || smin > Layout.SuppHi
    }
    (skippable.toDouble / n, n)
  }

  test("z-order makes most files footer-skippable for the box; a 1-D layout does not") {
    import spark.implicits._
    val zt = spark.table(Layout.zorderTable(spark, dir))
    val (zFrac, zFiles) = skippableFraction(zt)
    assert(zFiles >= Layout.ZFiles / 2L, s"expected ~${Layout.ZFiles} files, got $zFiles")
    assert(zFrac >= 0.5, f"only $zFrac%.2f of z-ordered files skippable for the box")

    // contrast: the same rows written in orderkey order (the natural
    // insertion layout) — partkey/suppkey are uniform within every
    // file, so footer stats can prune (almost) nothing
    val flat = java.nio.file.Files.createTempDirectory("graft_flat_layout_").toString
    try {
      Tables
        .lineitem(spark, dir)
        .repartitionByRange(Layout.ZFiles, $"l_orderkey")
        .sortWithinPartitions($"l_orderkey")
        .write
        .mode("overwrite")
        .parquet(flat)
      val (fFrac, _) = skippableFraction(spark.read.parquet(flat))
      assert(fFrac <= 0.1, f"natural layout unexpectedly skippable ($fFrac%.2f)")
      assert(zFrac > fFrac + 0.4, f"z-order ($zFrac%.2f) must beat natural ($fFrac%.2f) decisively")
    } finally {
      graft.GraftSession.deleteRecursively(new java.io.File(flat))
    }
  }

  test("manifest pruning actually skips files and returns the identical result") {
    import spark.implicits._
    val mt = Layout.manifestTable(spark, dir)
    val nFiles = spark.table(mt).count()
    val kept = spark.table(mt)
      .filter(
        $"pmax" >= Layout.PartLo && $"pmin" <= Layout.PartHi &&
          $"smax" >= Layout.SuppLo && $"smin" <= Layout.SuppHi
      )
      .count()
    // the operational claim: the pruned scan opens at most half the files
    assert(kept > 0 && kept <= nFiles / 2, s"kept $kept of $nFiles")
    val pruned = Layout.prunedScan(spark, dir).collect().map(_.toSeq).toSeq
    val full = Layout.zorderScan(spark, dir).collect().map(_.toSeq).toSeq
    assert(pruned === full, "file skipping must be invisible in the result")
  }

  test("compaction: 64 -> 4 files, shuffle-free, content-identical") {
    import spark.implicits._
    val frag = Layout.fragmentedDir(spark, dir)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) === Layout.FragFiles)
    val got = Layout.compactScan(spark, dir).collect().map(_.toSeq).toSeq
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val compacted = s"${System.getProperty("java.io.tmpdir")}/graft_compact_$fp"
    assert(parquetFiles(compacted) === Layout.CompactTarget)
    // the compaction read+coalesce plans WITHOUT a shuffle exchange
    val plan = spark.read.parquet(frag).coalesce(Layout.CompactTarget)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // content invariance: same aggregate over the raw table
    val want = graft.Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"),
        count(when(length($"text") > 100, 1)).as("n_long")
      )
      .orderBy($"lang")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("incremental layout: ticks append manifest segments; stats work is per-batch, never a rebuild") {
    import spark.implicits._
    // force a fresh build so the ledger reflects this JVM's work
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_zinc_"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    Layout.manifestStatsScans.set(0L)

    val got = Layout.incrementalScan(spark, dir).collect().map(_.toSeq).toSeq
    val want = Layout.zorderScan(spark, dir).collect().map(_.toSeq).toSeq
    assert(got === want, "incrementally-maintained layout must answer the full-table contract")

    val afterBuild = Layout.manifestStatsScans.get()
    // each slice's files were stats-scanned exactly once when its tick
    // landed — the per-batch shape (a rebuild would rescan slice 0's
    // files on every later tick)
    assert(afterBuild > 0L && afterBuild <= (8 + 2 + 2).toLong, s"ledger $afterBuild")

    // further scans reuse every manifest segment: no stats work at all
    val again = Layout.incrementalScan(spark, dir).collect().map(_.toSeq).toSeq
    assert(again === want)
    assert(Layout.manifestStatsScans.get() === afterBuild, "steady-state scan must not rescan stats")
  }

  test("morton spread/interleave round-trips bit patterns") {
    import spark.implicits._
    val df = Seq((0, 0), (1, 0), (0, 1), (0xffff, 0xffff), (0x1234, 0x0f0f))
      .toDF("x", "y")
      .select($"x", $"y", Layout.zValue($"x", $"y").as("z"))
      .collect()
    def spreadRef(v: Int): Long = {
      var r = 0L
      for (i <- 0 until 16) if (((v >> i) & 1) == 1) r |= (1L << (2 * i))
      r
    }
    df.foreach { r =>
      val (x, y, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(z === (spreadRef(x) | (spreadRef(y) << 1)), s"x=$x y=$y")
      // LongType keeps the full 32-bit key non-negative: y's top bit
      // (interleaved bit 31) must not sort as a sign bit
      assert(z >= 0L, s"x=$x y=$y z=$z")
    }
  }

  test("snapshot reads: version v is exactly ticks 0..v; latest equals the raw table") {
    import spark.implicits._
    val snaps = Layout
      .snapshotScan(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(snaps.keySet === Set(0L, 1L, 2L))
    val li = Tables.lineitem(spark, dir)
    def want(pred: org.apache.spark.sql.Column): (Long, Long, Double) = {
      val r = li
        .filter(pred)
        .agg(
          count(lit(1)),
          sum($"l_quantity").cast("long"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double")
        )
        .collect()
        .head
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    // tick predicates: v0 = %4≠0, v1 = %8≠0, v2 = everything
    assert(snaps(0L) === want(pmod($"l_orderkey", lit(4)) =!= 0))
    assert(snaps(1L) === want(pmod($"l_orderkey", lit(8)) =!= 0))
    assert(snaps(2L) === want(lit(true)))
    // snapshots only grow: append-only ingest never shrinks history
    assert(snaps(0L)._1 < snaps(1L)._1 && snaps(1L)._1 < snaps(2L)._1)
  }

  test("streaming ingest: one manifest segment per micro-batch; pruned scan equals the raw table") {
    import spark.implicits._
    // fresh corpus copy → fresh fingerprint → the stream actually runs
    val sdir = java.nio.file.Files.createTempDirectory("graft-sling-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$sdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    val got = Layout.streamIngestScan(spark, sdir).collect()
    val (batches, segments) = Layout.lastStreamIngest.get()
    val wantBatches = Layout.StreamIngestFragFiles / Layout.StreamIngestFilesPerTrigger
    assert(batches === wantBatches, "file source must drain in maxFilesPerTrigger batches")
    assert(segments === batches, "exactly one manifest segment per micro-batch")
    val root = Layout.streamIngestRoot(spark, sdir)
    def dirs(prefix: String) =
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    assert(dirs("man_").length === segments)
    assert(dirs("data_").length === segments)
    // each segment holds stats for exactly its tick's files
    dirs("man_").foreach { m =>
      val tick = m.getName.stripPrefix("man_")
      val files = spark.read.parquet(m.getAbsolutePath).select($"file").collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains(s"data_$tick")), s"segment $tick scope")
    }
    // result contract: identical to the raw-table box aggregate
    val want = Tables.lineitem(spark, sdir)
      .filter($"l_partkey".between(Layout.PartLo, Layout.PartHi) &&
        $"l_suppkey".between(Layout.SuppLo, Layout.SuppHi))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)), sum($"l_quantity").cast("long"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double"))
      .orderBy($"l_returnflag")
      .collect()
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
    // re-run: build-once — the stream does not re-ingest
    Layout.lastStreamIngest.set((-1, -1))
    val again = Layout.streamIngestScan(spark, sdir).collect()
    assert(Layout.lastStreamIngest.get() === ((-1, -1)), "second call must not re-run the stream")
    assert(again.map(_.toString).toSeq === got.map(_.toString).toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sdir))
  }

  test("schema evolution: old files keep their narrow schema; the merged read nulls exactly what predates a column") {
    import spark.implicits._
    val dirs = Layout.evoDirs(spark, dir)
    // physical truth: each tick's files carry exactly the columns that
    // existed when it landed — widening rewrote nothing
    val s0 = spark.read.parquet(dirs(0)).schema.fieldNames.toSet
    val s1 = spark.read.parquet(dirs(1)).schema.fieldNames.toSet
    val s2 = spark.read.parquet(dirs(2)).schema.fieldNames.toSet
    assert(!s0.contains("l_discount") && !s0.contains("l_tax"), s0.toString)
    assert(s1.contains("l_discount") && !s1.contains("l_tax"), s1.toString)
    assert(s2.contains("l_discount") && s2.contains("l_tax"), s2.toString)
    // the merged read presents the full wide schema
    val merged = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    assert(Set("l_discount", "l_tax").subsetOf(merged.schema.fieldNames.toSet))
    // result contract: evolved-column presence == tick membership
    val got = Layout.schemaEvolutionScan(spark, dir).collect().map(_.toSeq).toSeq
    val li = Tables.lineitem(spark, dir)
    val want = li
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        count(when(pmod($"l_orderkey", lit(4)) === 0, 1)).as("n_disc"),
        sum(when(pmod($"l_orderkey", lit(4)) === 0, $"l_discount".cast("decimal(18,2)")))
          .cast("double")
          .as("sum_disc"),
        count(when(pmod($"l_orderkey", lit(8)) === 0, 1)).as("n_tax")
      )
      .orderBy($"l_returnflag")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(got === want)
  }

  test("incremental MV: each row aggregated exactly once across ticks; serve is scan-free and exact") {
    import spark.implicits._
    // fresh lineage so every MV commit happens inside this JVM's window
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_mv"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    Layout.mvRowsAggregated.set(0L)

    val got = Layout.mvServe(spark, dir).collect().map(_.toSeq).toSeq
    val want = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"),
        round(
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double") / count(lit(1)),
          4
        ).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(got === want, "tick-maintained MV must equal the full-table aggregate")

    // incremental contract: delta rows aggregated across the ticks sum
    // to the table row count — each row touched once, when its tick
    // landed (a full refresh would count ~3× the table)
    val total = Tables.lineitem(spark, dir).count()
    assert(Layout.mvRowsAggregated.get() === total, s"ledger ${Layout.mvRowsAggregated.get()} vs $total")

    // steady-state serve: artifact read only, no re-aggregation
    val again = Layout.mvServe(spark, dir).collect().map(_.toSeq).toSeq
    assert(again === want)
    assert(Layout.mvRowsAggregated.get() === total, "serving must not re-run maintenance")
  }

  test("MV time travel: every stored version serves as-of exactly; history reads touch no fact table") {
    import spark.implicits._
    val snap = Layout.mvSnapshotServe(spark, dir)
    val rows = snap.collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq === (0L until Layout.IncSlices.toLong).toSeq,
      "one row-group per stored MV version")

    // the latest version IS the current serve, row for row
    val latest = rows.filter(_.getLong(0) === (Layout.IncSlices - 1).toLong)
      .map(_.toSeq.drop(1)).toSeq
    val current = Layout.mvServe(spark, dir).collect().map(_.toSeq).toSeq
    assert(latest === current, "version N-1 must equal the current MV serve")

    // commit monotonicity: a group's n_rows never shrinks across
    // insert-only versions (each tick only adds slice rows)
    rows.groupBy(r => (r.getString(1), r.getString(2))).foreach { case (g, rs) =>
      val byV = rs.sortBy(_.getLong(0)).map(_.getLong(3))
      assert(byV.zip(byV.tail).forall { case (a, b) => a <= b }, s"group $g n_rows must be monotone")
    }

    // as-of reads are metadata + artifact reads: the plan never scans
    // the fact table
    val plan = snap.queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem.parquet"), "MV history must serve without touching the fact table")
  }

  test("merge-on-read deletes: DV commit touches no data file, purge rewrites only affected files") {
    import spark.implicits._
    // fresh lineage (copied corpus → fresh fingerprint) so every commit
    // in the delete story happens inside this test's observation window
    val mdir = java.nio.file.Files.createTempDirectory("graft-mor-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$mdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    // base layout first; snapshot its files before any delete commit
    val data = Layout.morDataDir(spark, mdir)
    def fileState(d: String) =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified()))
        .sortBy(_._1)
        .toSeq
    val before = fileState(data)
    assert(before.size === Layout.MorFiles)

    val out = Layout.morScan(spark, mdir).collect()
    // 1) the DELETE commit wrote only the DV: data files byte-identical
    assert(fileState(data) === before, "a row-level delete must not rewrite data files")

    // 2) DV holds exactly one lineage id per predicate row, and the
    // write-time lineage ids are unique across the whole layout
    val (dvRows, affected, total) = Layout.morLedger(spark, mdir)
    val predRows = spark.read.parquet(data)
      .filter($"l_partkey" <= Layout.MorPartHi).count()
    assert(dvRows === predRows)
    val allRows = spark.read.parquet(data).count()
    val distinctRids = spark.read.parquet(data).select($"mor_rid").distinct().count()
    assert(distinctRids === allRows, "row-lineage ids must be unique")
    assert(total === Layout.MorFiles)
    // 3) purge scope: the clustered layout confines predicate rows to
    // a strict subset of files (the non-vacuous rewrite claim)
    assert(affected > 0 && affected < total, s"affected $affected of $total")

    // 4) both serve paths answer identically, and rows actually died
    val byMetric = out
      .groupBy(_.getString(0))
      .view
      .mapValues(_.map(_.toSeq.tail.toString).sorted.toSeq)
      .toMap
    assert(byMetric("mor_read") === byMetric("purged_read"))
    val liveRows = out.filter(_.getString(0) == "mor_read").map(_.getLong(2)).sum
    val rawRows = spark.read.parquet(data).count()
    assert(liveRows < rawRows, "the delete must remove rows")

    // 5) the MoR serve plan is a broadcast anti hash join — no shuffle
    val plan = Layout.morRead(spark, mdir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mdir))
  }

  test("change data feed: per-commit change rows come off each commit's own artifact") {
    import spark.implicits._
    val (base, ins, dv) = Layout.cdcDirs(spark, dir)
    // row lineage is the (cdc_commit, cdc_rid) pair: unique across ALL
    // commits structurally — disjointness comes from the commit column,
    // not a numeric id offset with a partition-count cliff
    val all = spark.read.parquet(base).select($"cdc_commit", $"cdc_rid")
      .unionByName(spark.read.parquet(ins).select($"cdc_commit", $"cdc_rid"))
    assert(all.distinct().count() === all.count(), "(cdc_commit, cdc_rid) must be globally unique")
    assert(
      spark.read.parquet(base).filter($"cdc_commit" =!= 1L).count() === 0 &&
        spark.read.parquet(ins).filter($"cdc_commit" =!= 2L).count() === 0,
      "each commit stamps its own commit id"
    )
    // the delete key file holds exactly the predicate rows' ids
    val predRows = spark.read.parquet(base).unionByName(spark.read.parquet(ins))
      .filter($"l_partkey" <= Layout.MorPartHi).count()
    assert(spark.read.parquet(dv).count() === predRows)
    // the feed equals the raw-table replay through commit predicates
    val got = Layout.changesScan(spark, dir).collect().map(_.toSeq).toSeq
    val li = Tables.lineitem(spark, dir)
    def want(v: Long, t: String, pred: org.apache.spark.sql.Column) = li
      .filter(pred)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"l_quantity").cast("long").as("sum_qty"))
      .select(lit(v).as("version"), lit(t).as("change_type"), $"l_returnflag", $"n_rows", $"sum_qty")
    val wantAll = want(1L, "insert", pmod($"l_orderkey", lit(4)) =!= 0)
      .unionByName(want(2L, "insert", pmod($"l_orderkey", lit(4)) === 0))
      .unionByName(want(3L, "delete", $"l_partkey" <= Layout.MorPartHi))
      .orderBy($"version", $"change_type", $"l_returnflag")
      .collect().map(_.toSeq).toSeq
    assert(got === wantAll)
  }

  test("streaming MV: one immutable version per micro-batch; latest equals the full-table aggregate") {
    import spark.implicits._
    // fresh corpus copy → fresh fingerprint → the stream actually runs
    val sdir = java.nio.file.Files.createTempDirectory("graft-smv-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$sdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    val got = Layout.streamMvServe(spark, sdir).collect().map(_.toSeq).toSeq
    val (batches, totalRows) = Layout.lastStreamMv.get()
    val wantBatches = Layout.StreamIngestFragFiles / Layout.StreamIngestFilesPerTrigger
    assert(batches === wantBatches)
    val root = Layout.streamMvRoot(spark, sdir)
    val versions = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("mv_"))
    assert(versions.length === batches, "one immutable MV version per micro-batch")
    // cumulative row counts grow monotonically across versions
    val counts = versions.sortBy(_.getName.stripPrefix("mv_").toLong).map { v =>
      spark.read.parquet(v.getAbsolutePath).agg(sum($"n_rows")).collect().head.getLong(0)
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => a < b }, counts.mkString(","))
    assert(totalRows === Tables.lineitem(spark, sdir).count())
    // latest version answers the batch MV contract exactly
    val want = Tables.lineitem(spark, sdir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"),
        round(
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double") / count(lit(1)),
          4
        ).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    // build-once: a second serve replays nothing
    Layout.lastStreamMv.set((-1, -1L))
    val again = Layout.streamMvServe(spark, sdir).collect().map(_.toSeq).toSeq
    assert(Layout.lastStreamMv.get() === ((-1, -1L)), "second serve must not re-run the stream")
    assert(again === got)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sdir))
  }

  test("vacuum: expired tick files physically removed, retained snapshot answers identically") {
    import spark.implicits._
    // fresh lineage: copy the corpus so the path-based fingerprint (and
    // therefore the tmpdir lineage) is new to this JVM AND this machine
    val vdir = java.nio.file.Files.createTempDirectory("graft-vac-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$vdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    // build the lineage WITHOUT expiring: all commits on disk
    val (tickDirs, comp, man) = Layout.vacuumLineage(spark, vdir)
    def parquetCount(d: String): Int =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val tickFilesBefore = tickDirs.map(parquetCount).sum
    assert(tickFilesBefore > 0, "tick commits must exist before expiry")
    val compFiles = parquetCount(comp)
    assert(compFiles === Layout.VacCompactFiles)
    val v3Before = spark.read.parquet(comp)
      .agg(count(lit(1)), sum($"l_quantity").cast("long")).collect().head

    // expire: every tick file deleted (none is referenced by v3), the
    // compacted files untouched, and the pass is idempotent
    val out1 = Layout.vacuumScan(spark, vdir).collect()
    assert(Layout.lastVacuum.get() === ((tickFilesBefore, Layout.VacCompactFiles)))
    assert(tickDirs.map(parquetCount).sum === 0, "expired data files must be gone from disk")
    assert(parquetCount(comp) === compFiles, "live files must survive expiry")
    val out2 = Layout.vacuumScan(spark, vdir).collect()
    assert(Layout.lastVacuum.get() === ((0, Layout.VacCompactFiles)), "second pass deletes nothing")
    assert(out1.map(_.toString).toSeq === out2.map(_.toString).toSeq)

    // the retained snapshot still answers exactly (vs the raw table and
    // vs its own pre-vacuum read), and the manifest still prunes
    val v3After = spark.read.parquet(comp)
      .agg(count(lit(1)), sum($"l_quantity").cast("long")).collect().head
    assert(v3After.toString === v3Before.toString)
    val raw = Tables.lineitem(spark, vdir)
      .agg(count(lit(1)), sum($"l_quantity").cast("long")).collect().head
    assert(v3After.toString === raw.toString)
    val m = spark.read.parquet(man)
    assert(m.count() === Layout.VacCompactFiles.toLong)
    val keep = m.filter(
      $"pmax" >= Layout.PartLo && $"pmin" <= Layout.PartHi &&
        $"smax" >= Layout.SuppLo && $"smin" <= Layout.SuppHi
    ).count()
    assert(keep < Layout.VacCompactFiles.toLong, "the z-clustered manifest must still skip files")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vdir))
  }

  test("layout_spec_evolution: old files never rewritten; each segment prunes under its own spec") {
    import spark.implicits._
    // fresh lineage: copy the corpus so the fingerprinted tick dirs are
    // new to this JVM AND this machine
    val vdir = java.nio.file.Files.createTempDirectory("graft-pspec-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$vdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$vdir/lineitem.parquet")

    // tick 0 lands FIRST, under spec A (year); snapshot its bytes
    val seg0 = Layout.specEvoTick(spark, vdir, fp, 0)
    assert(Layout.specEvoSpecOf(seg0) === Seq("p_year"))
    def fileState(root: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/files"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified())))
        .toMap
    }
    val before = fileState(seg0)
    assert(before.nonEmpty)
    // spec A's physical layout: year dirs only, no month level
    assert(new java.io.File(s"$seg0/files").listFiles().exists(_.getName.startsWith("p_year=")))
    assert(!fileState(seg0).keys.exists(_.contains("p_month=")))

    // the full scan builds the evolved ticks; tick 0 is byte-identical
    val out = Layout.specEvolutionScan(spark, vdir)
    val got = out.collect().map(_.toSeq).toSeq
    assert(fileState(seg0) === before, "spec evolution must never rewrite old files")
    val seg1 = Layout.specEvoTick(spark, vdir, fp, 1)
    assert(Layout.specEvoSpecOf(seg1) === Seq("p_year", "p_month"))
    assert(fileState(seg1).keys.exists(_.contains("p_month=")), "evolved ticks write the new spec")

    // each segment's scan prunes under ITS OWN spec: the year-only
    // segment's PartitionFilters carry p_year (p_month is not even in
    // its schema); the evolved segments' carry both
    val root = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val scans = root.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === Layout.IncSlices)
    val (specA, specB) = scans.partition(_.relation.partitionSchema.fieldNames.toSeq == Seq("p_year"))
    assert(specA.size === 1 && specB.size === Layout.IncSlices - 1)
    val pfA = specA.head.partitionFilters.map(_.toString).mkString(",")
    assert(pfA.contains("p_year") && !pfA.contains("p_month"), s"spec-A PartitionFilters: $pfA")
    specB.foreach { s =>
      val pf = s.partitionFilters.map(_.toString).mkString(",")
      assert(pf.contains("p_year") && pf.contains("p_month"), s"spec-B PartitionFilters: $pf")
    }

    // result invariance: the merged heterogeneous-spec read answers the
    // raw-table window exactly
    val want = Tables
      .lineitem(spark, vdir)
      .filter(
        $"l_shipdate" >= lit(Layout.SpecEvoLo).cast("timestamp") &&
          $"l_shipdate" < lit(Layout.SpecEvoHi).cast("timestamp")
      )
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(got === want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vdir))
  }

  test("mv_vacuum: expired MV versions physically removed, retained time travel intact, idempotent") {
    import spark.implicits._
    // fresh lineage: copy the corpus so the path-based fingerprint (and
    // therefore the tmpdir lineage) is new to this JVM AND this machine
    val vdir = java.nio.file.Files.createTempDirectory("graft-mvvac-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$vdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    // build the lineage WITHOUT expiring: every version on disk
    val root = Layout.mvVacRoot(spark, vdir)
    def parquetCount(d: String): Int =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val expiredDirs = (0 until Layout.IncSlices - Layout.MvRetain).map(k => s"$root/v$k")
    val retainedDirs = (Layout.IncSlices - Layout.MvRetain until Layout.IncSlices).map(k => s"$root/v$k")
    val expiredBefore = expiredDirs.map(parquetCount).sum
    val retainedBefore = retainedDirs.map(parquetCount).sum
    assert(expiredBefore > 0, "expired-version artifacts must exist before the vacuum")
    assert(retainedBefore > 0)

    // expire: expired version data files deleted, retained untouched,
    // root _SUCCESS survives (build-once must never resurrect), and the
    // pass is idempotent
    val out1 = Layout.mvVacuumServe(spark, vdir).collect()
    assert(Layout.lastMvVacuum.get() === ((expiredBefore, retainedBefore)))
    assert(expiredDirs.map(parquetCount).sum === 0, "expired MV data files must be gone from disk")
    assert(retainedDirs.map(parquetCount).sum === retainedBefore, "retained versions must survive")
    assert(new java.io.File(root, "_SUCCESS").exists(), "the lineage marker must survive expiry")
    val out2 = Layout.mvVacuumServe(spark, vdir).collect()
    assert(Layout.lastMvVacuum.get() === ((0, retainedBefore)), "second pass deletes nothing")
    assert(out1.map(_.toString).toSeq === out2.map(_.toString).toSeq)

    // retained time travel == a full refresh at each surviving commit,
    // recomputed from the raw table through the cumulative predicates
    val want = (Layout.IncSlices - Layout.MvRetain until Layout.IncSlices).map { k =>
      val base = Tables.lineitem(spark, vdir)
      val sliced = if (k >= Layout.IncSlices - 1) base else base.filter(pmod($"l_orderkey", lit(8)) =!= 0)
      sliced
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price")
        )
        .select(lit(k.toLong).as("version"), $"l_returnflag", $"l_linestatus", $"n_rows", $"sum_qty", $"sum_price")
    }.reduce(_ unionByName _).orderBy($"version", $"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    val got = out1.map(r => r.toSeq.take(6)).toSeq
    assert(got === want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vdir))
  }

  test("mv_from_changes: MV advanced strictly from the feed; delete commit = negative deltas") {
    import spark.implicits._
    // fresh CDF-MV lineage so maintenance happens inside this JVM's window
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_cmv"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    Layout.cdfMvRowsConsumed.set(0L)

    val got = Layout.mvFromChangesServe(spark, dir).collect().map(_.toSeq).toSeq
    val want = Tables.lineitem(spark, dir)
      .filter($"l_partkey" > Layout.MorPartHi)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"),
        round(
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double") / count(lit(1)),
          4
        ).as("avg_price")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(got === want, "feed-driven MV must equal the net-of-commits aggregate")

    // O(changed rows) maintenance: the ledger equals |v1| + |v2| insert
    // rows plus |v3| delete rows — each change-feed row consumed exactly
    // once, when its commit's feed was read
    val li = Tables.lineitem(spark, dir)
    val changed = li.count() + li.filter($"l_partkey" <= Layout.MorPartHi).count()
    assert(Layout.cdfMvRowsConsumed.get() === changed,
      s"ledger ${Layout.cdfMvRowsConsumed.get()} vs $changed")

    // steady-state serve is an artifact read — no feed re-consumption
    val again = Layout.mvFromChangesServe(spark, dir).collect().map(_.toSeq).toSeq
    assert(again === want)
    assert(Layout.cdfMvRowsConsumed.get() === changed, "serving must not re-consume the feed")
  }

  test("snapshot × deletion vectors: as-of v2 still serves the rows the v3 DV drops") {
    import spark.implicits._
    val rows = Layout.snapshotDeletesScan(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val n = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, dir)
    assert(n(1L) === li.filter(pmod($"l_orderkey", lit(4)) =!= 0).count(), "v1 = base commit")
    assert(n(2L) === li.count(), "v2 = base + insert; the DV does NOT apply before its commit")
    assert(n(3L) === li.filter($"l_partkey" > Layout.MorPartHi).count(), "v3 applies the DV")
    assert(n(2L) > n(3L), "the pre-delete snapshot serves the deleted rows")
  }

  test("stream_layout_takedown: per-batch DV commits, data files untouched, N partials == one-shot") {
    import spark.implicits._
    // fresh lineage so the whole streamed drain happens inside this
    // test's observation window (same discipline as the MoR test)
    val mdir = java.nio.file.Files.createTempDirectory("graft-morsd-").toString
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val dst = new java.io.File(s"$mdir/lineitem.parquet")
    if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)

    val data = Layout.morDataDir(spark, mdir)
    def fileState(d: String) =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified()))
        .sortBy(_._1)
        .toSeq
    val before = fileState(data)

    val root = Layout.streamTakedownRoot(spark, mdir)
    // 1) the drain committed across several micro-batches, one DV
    // commit per non-empty batch (6 queue files / 2 per trigger >= 3)
    val (batches, dvCommits, dvRows) = Layout.lastStreamTakedown.get()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    assert(dvCommits === batches, "one key-delete commit per non-empty batch")

    // 2) no commit rewrote a data file
    assert(fileState(data) === before, "takedown commits must not touch data files")

    // 3) the union of the partial DVs IS the one-shot DV (set equality)
    val oneShot = spark.read.parquet(Layout.morDvDir(spark, mdir))
    val streamed = spark.read.parquet(Layout.streamTakedownDvDirs(root): _*)
    assert(dvRows === oneShot.count())
    assert(streamed.select($"mor_rid").except(oneShot.select($"mor_rid")).isEmpty)
    assert(oneShot.select($"mor_rid").except(streamed.select($"mor_rid")).isEmpty)

    // 4) the streamed serve answers exactly the one-shot MoR serve
    val want = Layout.morScan(spark, mdir).collect()
      .filter(_.getString(0) == "mor_read").map(_.toSeq.tail).sortBy(_.toString).toSeq
    val got = Layout.streamTakedownScan(spark, mdir).collect()
      .map(_.toSeq.tail).sortBy(_.toString).toSeq
    assert(got === want)

    // 5) serve plan: one broadcast anti probe, regardless of commit count
    val plan = Layout.streamTakedownRead(spark, mdir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mdir))
  }

  test("stream_layout_takedown_pruned: manifest skips files, DV probe load-bearing, equals the unpruned live view") {
    import spark.implicits._
    val df = Layout.streamTakedownPrunedScan(spark, dir)
    val got = df.collect().map(_.toSeq).toSeq
    // 1) the manifest actually pruned: some files kept, some skipped
    val kept = Layout.lastTakedownPrunedFiles.get()
    assert(kept > 0, "the box must intersect at least one data file")
    assert(kept < Layout.MorFiles, s"pruning must skip files ($kept of ${Layout.MorFiles} kept)")
    // 2) lossless: equals the same box aggregate over the UNPRUNED live view
    val box = $"l_partkey".between(Layout.MorBoxPartLo, Layout.MorBoxPartHi) &&
      $"l_suppkey".between(Layout.MorBoxSuppLo, Layout.MorBoxSuppHi)
    val want = Layout
      .streamTakedownRead(spark, dir)
      .filter(box)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"l_returnflag")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(got === want)
    // 3) the DV is load-bearing: the box straddles the victim range, so
    // victims exist IN the box and the pruned serve must exclude them
    val raw = Tables.lineitem(spark, dir)
    val boxVictims = raw.filter(box && $"l_partkey" <= Layout.MorPartHi).count()
    assert(boxVictims > 0, "fixture must plant victims inside the box")
    val expectedRows = raw.filter(box && $"l_partkey" > Layout.MorPartHi).count()
    assert(got.map(_(1).asInstanceOf[Long]).sum === expectedRows)
    // 4) serve plan: broadcast DV anti-probe, no shuffle join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
