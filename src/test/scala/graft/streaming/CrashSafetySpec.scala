package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the crash-safety discipline of the stream-maintained index
  * builds: a mid-drain failure must never leave state that satisfies
  * the build-once guard.
  *
  * Two mechanisms are under test:
  *   - [[StreamDrain.drainToTable]]: per-batch staged slices, the
  *     catalog table written once AFTER a complete drain — so table
  *     existence IS the completion marker, and a pre-existing partial
  *     table is simply overwritten by the next complete drain;
  *   - the drain-complete sentinel (`Warehouse.writeDoneSentinel`):
  *     builders whose tables accrete DURING the drain guard on a
  *     sentinel written last, so deleting any piece (sentinel included)
  *     forces a full retire-and-rebuild.
  */
class CrashSafetySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "crash-safety")
  private val dir = "/root/testdata/sf0.001"

  test("drainToTable: a partial pre-existing table never survives; replayed batches are idempotent") {
    import spark.implicits._
    // a takedown queue fragmented across 4 files → 2 micro-batches
    val frag = java.nio.file.Files.createTempDirectory("graft-drainq-").toString
    (1L to 40L).toDF("doc_id").repartition(4).write.mode("overwrite").parquet(frag)

    // simulate the crash artifact: a PARTIAL tombstone table left by a
    // dead drain (the state the old first-batch-append path leaked)
    val t = "graft_test_drain_dv"
    Seq(999L).toDF("doc_id").write.mode("overwrite").format("parquet").saveAsTable(t)

    val batches = StreamDrain.drainToTable(spark, frag, t)
    assert(batches >= 2, s"4 files / 2 per trigger must drain in >=2 batches ($batches)")
    val got = spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (1L to 40L), "the complete drain must replace the partial table exactly")
    assert(!got.contains(999L), "no row of the crashed partial may survive")

    // idempotence of the commit: a second full drain (fresh checkpoint,
    // same queue) lands the identical table, not a doubled one
    val batches2 = StreamDrain.drainToTable(spark, frag, t)
    assert(batches2 === batches)
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq === (1L to 40L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(frag))
  }

  test("drainTicks replay guard: a replayed batchId ticks exactly once, and the ledger counts admissions") {
    import spark.implicits._
    // the EXACT foreachBatch lambda the four append-mode index drains
    // install (IVF postings graft_ivfchk_, PQ codes graft_pqchk_, BM25
    // postings graft_bm25chk_ and takedown graft_bm25dchk_ — all route
    // through StreamDrain.drainTicks), driven directly with the
    // replayed-micro-batch sequence the streaming engine can deliver
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val guard = new StreamDrain.BatchGuard(_ => { ticks.incrementAndGet(); () })
    val batch = Seq(1L, 2L).toDF("doc_id")

    guard(batch, 7L)
    guard(batch, 7L) // the retry window: same batchId re-enters foreachBatch
    assert(ticks.get === 1, "a replayed batchId must not run its append tick twice")
    assert(guard.count === 1, "the ledger counts admitted batchIds, not invocations")

    guard(batch.limit(0), 8L) // empty delivery: no tick, batchId NOT consumed
    assert(ticks.get === 1 && guard.count === 1)
    guard(batch, 8L) // the retry that delivers the data still gets its tick
    assert(ticks.get === 2 && guard.count === 2)

    guard(batch, 9L)
    assert(ticks.get === 3 && guard.count === 3)
  }

  test("drainTicks: the returned ledger equals the ticks that actually ran") {
    import spark.implicits._
    val frag = java.nio.file.Files.createTempDirectory("graft-tickq-").toString
    (1L to 40L).toDF("doc_id").repartition(4).write.mode("overwrite").parquet(frag)
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    var rows = 0L
    val n = StreamDrain.drainTicks(spark, frag, "graft_testchk_") { df =>
      ticks.incrementAndGet()
      rows += df.count()
    }
    assert(n === ticks.get, "ledger must equal executed ticks")
    assert(n >= 2, s"4 files / 2 per trigger must tick >=2 batches ($n)")
    assert(rows === 40L, "ticks together must see every queued row exactly once")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(frag))
  }

  test("sentinel-guarded stream build: a missing done-sentinel forces a full rebuild") {
    import graft.similarity.Similarity
    // first build: drains the corpus, writes the sentinel LAST
    val (ct, at) = Similarity.ivfStreamTables(spark, dir)
    val rows = spark.table(at).count()
    assert(rows > 0)
    val done = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_ivfs_done_"))
    assert(done.length === 1, s"exactly one drain-complete sentinel expected: ${done.toSeq}")

    // simulate the crash: posting/centroid tables exist (the first
    // micro-batch created them) but the drain never completed — i.e.
    // the sentinel is missing
    spark.sql(s"DROP TABLE ${done.head}")
    val ledgerBefore = Similarity.lastStreamIvf.get()
    val (ct2, at2) = Similarity.ivfStreamTables(spark, dir)
    assert((ct2, at2) === ((ct, at)))
    // the guard rebuilt: the drain ran again (ledger advanced) and the
    // rebuilt index is complete, not the partial the catalog held
    assert(Similarity.lastStreamIvf.get()._2 === rows,
      "the rebuild must re-drain to the full posting count")
    assert(spark.table(at2).count() === rows)
    assert(ledgerBefore._1 > 0, "fixture sanity: the first drain ticked")
    assert(spark.catalog.listTables().collect().map(_.name).count(_.startsWith("graft_ivfs_done_")) === 1,
      "the rebuild must restore the sentinel")

    // and with the sentinel present, a repeat call is catalog-only
    val ledgerAfter = Similarity.lastStreamIvf.get()
    Similarity.ivfStreamTables(spark, dir)
    assert(Similarity.lastStreamIvf.get() === ledgerAfter, "no re-drain when the sentinel is present")
  }
}
