package graft.queries

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives the session-end warehouse retirement sweep in anger — the
  * ledger had only ever printed "retired 0 stale" in single-sf sessions,
  * leaving the stale-fingerprint path (the documented norm when /tmp
  * fixtures regenerate between probe rounds) latent. Pins the three
  * guards: live fingerprints survive at any age, stale dirs older than
  * the age floor are swept, young dirs survive the sweep (the cross-JVM
  * race guard — a concurrently building JVM's artifacts are fresh), and
  * a filtered run (`sweep = false`) retires nothing.
  */
class WarehouseHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(2, "warehouse-hygiene-spec")

  private def mkArtifact(warehouse: java.io.File, name: String, old: Boolean): java.io.File = {
    val d = new java.io.File(warehouse, name)
    d.mkdirs()
    val f = new java.io.File(d, "part-00000")
    java.nio.file.Files.writeString(f.toPath, "x")
    if (old) {
      val t = System.currentTimeMillis() - 2L * 60 * 60 * 1000
      f.setLastModified(t)
      d.setLastModified(t)
    }
    d
  }

  test("stale-fingerprint sweep retires old dead dirs, keeps live + young + everything on filtered runs") {
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val warehouse = new java.io.File(
      if (whConf.startsWith("file:")) new java.net.URI(whConf).getPath else whConf
    )
    warehouse.mkdirs()
    // register a live fingerprint in this session (any real source file)
    val liveFp = graft.Warehouse.sourceFingerprint(spark, "/root/testdata/sf0.001/region.parquet")
    val live = mkArtifact(warehouse, s"graft_hyg_live_$liveFp", old = true)
    val staleOld = mkArtifact(warehouse, "graft_hyg_stale_deadbeef0001", old = true)
    val staleYoung = mkArtifact(warehouse, "graft_hyg_stale_deadbeef0002", old = false)

    // filtered run: ledger only, nothing retired regardless of age
    val filtered = graft.Warehouse.warehouseHygiene(spark, sweep = false)
    assert(filtered.contains("retired 0 stale"), s"filtered run must not sweep: $filtered")
    assert(live.exists() && staleOld.exists() && staleYoung.exists())

    // full run: the old dead dir goes, the live dir (older still) and
    // the young dead dir (concurrent-JVM guard) both survive
    val swept = graft.Warehouse.warehouseHygiene(spark)
    assert(!staleOld.exists(), s"old stale dir must be retired: $swept")
    assert(live.exists(), "live-fingerprint dir must survive at any age")
    assert(staleYoung.exists(), "young dir must survive (cross-JVM in-flight build guard)")
    assert(swept.contains("retired"), swept)
    val retired = "retired (\\d+) stale".r.findFirstMatchIn(swept).map(_.group(1).toInt)
    assert(retired.exists(_ >= 1), s"expected a non-zero retired count: $swept")

    // age floor of zero retires the young dead dir too; live still survives
    val sweptAll = graft.Warehouse.warehouseHygiene(spark, sweep = true, minAgeMs = 0L)
    assert(!staleYoung.exists(), s"minAgeMs=0 must retire young dead dirs: $sweptAll")
    assert(live.exists(), "live-fingerprint dir must survive any sweep")
    live.listFiles().foreach(_.delete()); live.delete()
  }

  test("a concurrent in-flight build OLDER than the age floor survives the sweep") {
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val warehouse = new java.io.File(
      if (whConf.startsWith("file:")) new java.net.URI(whConf).getPath else whConf
    )
    warehouse.mkdirs()
    // the fourth-decade shape: another JVM started this build HOURS ago
    // (dir inode + its first files are older than the 1 h floor) and is
    // still writing — builds at sf30 run to the hour. The artifact's age
    // must derive from its NEWEST write, not the dir inode.
    val inflight = mkArtifact(warehouse, "graft_hyg_inflight_feedf00d0001", old = true)
    val freshPart = new java.io.File(inflight, "part-00001")
    java.nio.file.Files.writeString(freshPart.toPath, "y") // the write in flight: fresh mtime
    val deep = new java.io.File(inflight, "_temporary/0")
    deep.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(deep, "task-0").toPath, "z")
    // age the intermediate dirs too — only the leaf write is fresh
    deep.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)

    val swept = graft.Warehouse.warehouseHygiene(spark)
    assert(
      inflight.exists() && freshPart.exists(),
      s"an in-flight build with a fresh newest-write must survive the sweep: $swept"
    )

    // once the writer goes quiet past the floor, the same dir IS stale
    def ageAll(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      Option(f.listFiles()).foreach(_.foreach(ageAll))
    }
    ageAll(inflight)
    val swept2 = graft.Warehouse.warehouseHygiene(spark)
    assert(!inflight.exists(), s"a dead build past the floor must still be retired: $swept2")
  }
}
