package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the r20 plan-metadata memos (Tables reader cache,
  * SqlSurface view-registration skip): they cache CONSTRUCTION, never
  * results — so a memo hit must return the identical unexecuted frame,
  * a different (session, path) must get its own entry, and a dir
  * switch on the SQL surface must re-point the views at the new dir's
  * data (the staleness failure the skip guard could otherwise hide).
  */
class MemoSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("Tables reader memo: same (session, path) returns the same frame; executions still scan") {
    val spark = GraftSession.local(4, "memo-spec")
    val a = Tables.lineitem(spark, sf)
    val b = Tables.lineitem(spark, sf)
    assert(a eq b, "memo hit must return the identical DataFrame instance")
    // the memoized value is an unexecuted plan over the parquet files —
    // every action recomputes from disk (FileScan in the plan, stable counts)
    assert(a.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(a.count() == b.count())
    val other = Tables.orders(spark, sf)
    assert(!(other eq a), "different paths are different entries")
  }

  test("SqlSurface dir switch re-registers the views (no stale-skip)") {
    val spark = GraftSession.local(4, "memo-spec-sql")
    val n001 = queries.SqlSurface.sql(spark, "/root/testdata/sf0.001", "SELECT count(*) AS n FROM lineitem")
      .collect().head.getLong(0)
    val n01 = queries.SqlSurface.sql(spark, "/root/testdata/sf0.01", "SELECT count(*) AS n FROM lineitem")
      .collect().head.getLong(0)
    val n001again = queries.SqlSurface.sql(spark, "/root/testdata/sf0.001", "SELECT count(*) AS n FROM lineitem")
      .collect().head.getLong(0)
    assert(n01 > n001, "larger sf must be visible after the dir switch")
    assert(n001again == n001, "switching back must re-register, not serve the stale dir")
  }
  test("artifact reader memo: identical frame while the dir is unchanged; FRESH after any mutation") {
    val spark = GraftSession.local(4, "memo-spec-artifact")
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-memo-").toString
    val path = s"$dir/art"
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(path)
    val a = Tables.artifactParquet(spark, path)
    val b = Tables.artifactParquet(spark, path)
    assert(a eq b, "unchanged dir: memo hit must return the identical DataFrame instance")
    assert(a.queryExecution.executedPlan.toString.contains("Scan parquet"), "value is a plan, not data")
    assert(a.count() === 3L)
    // mutation 1: append a new file — the listing fingerprint changes,
    // so the memo must construct a FRESH reader that sees the new rows
    spark.range(2).coalesce(1).write.mode("append").parquet(path)
    val c = Tables.artifactParquet(spark, path)
    assert(!(c eq a), "mutated dir must miss the memo")
    assert(c.count() === 5L)
    // mutation 2: overwrite (the compaction/vacuum shape — files deleted
    // and rewritten); a stale snapshot here would read dangling files
    spark.range(1).coalesce(1).write.mode("overwrite").parquet(path)
    assert(Tables.artifactParquet(spark, path).count() === 1L)
    // multi-path keys are distinct from single-path keys
    spark.range(4).coalesce(1).write.mode("overwrite").parquet(s"$dir/art2")
    assert(Tables.artifactParquet(spark, path, s"$dir/art2").count() === 5L)
    spark.stop()
    assert(Warehouse.heldBy(spark) > 0)
    // the next access of any memo drops the stopped session's entries
    Tables.lineitem(GraftSession.local(4, "memo-spec-next"), sf)
    assert(Warehouse.heldBy(spark) === 0, "the store still holds entries of a stopped session")
  }

  test("listing fingerprint of a multi-file, nested artifact dir equals the listFiles walk's") {
    val spark = GraftSession.local(4, "memo-spec-listing")
    val dir = java.nio.file.Files.createTempDirectory("graft-listing-fp-").toString
    val path = s"$dir/art"
    // several part files in two partition subdirs, plus .crc siblings
    spark.range(40).selectExpr("id", "id % 2 AS k").repartition(3)
      .write.partitionBy("k").parquet(path)
    spark.range(5).coalesce(1).write.parquet(s"$dir/other")
    def listFilesFp(paths: Seq[String], bytes: Int): String = {
      val conf = spark.sparkContext.hadoopConfiguration
      val md = java.security.MessageDigest.getInstance("MD5")
      paths.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val it = hp.getFileSystem(conf).listFiles(hp, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
        }
        entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      }
      md.digest().take(bytes).map("%02x".format(_)).mkString
    }
    val leaf = new java.io.File(s"$path/k=1").listFiles.filter(_.getName.startsWith("part-")).head.getPath
    for (paths <- Seq(Seq(path), Seq(path, s"$dir/other"), Seq(leaf)); bytes <- Seq(6, 8))
      assert(Warehouse.listingFp(spark, paths, bytes) === listFilesFp(paths, bytes), s"$paths / $bytes")
    assert(Warehouse.sourceFingerprint(spark, path) === listFilesFp(Seq(path), 6))
  }
}
