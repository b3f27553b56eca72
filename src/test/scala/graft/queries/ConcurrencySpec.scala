package graft.queries

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the warehouse discipline CONCURRENTLY — the three races the
  * r18/r19 defensive fixes exist for, none of which any spec actually
  * ran in parallel before r20:
  *   1. concurrent FIRST CALLERS of buildOnce artifacts (the
  *      double-checked bucketBuildLock: interleaved retire + saveAsTable
  *      would corrupt the build) — including the stream-maintained BM25
  *      index, whose build is a full micro-batch drain;
  *   2. serves ∥ a fresh build ∥ hygiene sweeps against ONE warehouse
  *      (the newestWrite NonFatal→fresh guard and the minAge floor:
  *      a sweep racing a writer must neither crash nor eat in-flight
  *      artifacts, while genuinely stale leftovers still retire);
  *   3. histogram-registry churn at the cap from concurrent callers
  *      (the access-order eviction: results stay correct, the registry
  *      stays bounded, the session-end release drains it).
  * Assertions are "no crash, no lost artifact, no wrong answer" — every
  * concurrent result must equal the single-threaded reference.
  */
class ConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "concurrency-spec")
  private val dir = "/root/testdata/sf0.001"

  /** Runs the thunks concurrently (one thread each, all started before
    * any joins) and propagates the FIRST failure instead of deadlocking
    * the suite on a wedged sibling.
    */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    import java.util.concurrent._
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      futs.map(_.get(600, TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); () }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A copy of the corpus at a fresh path ⇒ a fresh source fingerprint
    * (path+mtime-derived), so every buildOnce family starts from the
    * genuinely-unbuilt state the first-caller race needs.
    */
  private lazy val freshDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("concurrency-corpus-").toString
    spark.read.parquet(s"$dir/documents.parquet").write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("concurrent first callers of buildOnce families: one artifact, identical results") {
    val tasks: Seq[() => (String, Seq[String])] =
      (1 to 3).map(i => () => (s"bm25_$i", sortedRows(graft.text.TextAnalysis.bm25StreamServe(spark, freshDir)))) ++
        (1 to 3).map(i => () => (s"inc_$i", sortedRows(graft.dedup.Dedup.incremental(spark, freshDir))))
    val results = inParallel(tasks).groupBy(_._1.takeWhile(_ != '_')).view.mapValues(_.map(_._2))
    // all concurrent callers of a family returned the same rows…
    results.foreach { case (fam, rs) => assert(rs.distinct.size === 1, s"$fam diverged under concurrency") }
    // …and they equal the post-race single-threaded serve (the artifact
    // a lone caller would have built)
    assert(results("bm25").head === sortedRows(graft.text.TextAnalysis.bm25StreamServe(spark, freshDir)))
    assert(results("inc").head === sortedRows(graft.dedup.Dedup.incremental(spark, freshDir)))
  }

  test("serves ∥ fresh build ∥ hygiene sweeps: no crash, no lost artifact, stale still retires") {
    // the conf value may be a file: URI — resolve to a local path
    val warehouseConf = spark.conf.get("spark.sql.warehouse.dir")
    val warehouse =
      if (warehouseConf.startsWith("file:")) new java.io.File(new java.net.URI(warehouseConf))
      else new java.io.File(warehouseConf)
    // plant a STALE leftover (no live fingerprint, 2 h-old writes —
    // must retire) and a FRESH unclaimed dir (must survive the minAge
    // floor: it could be a concurrent JVM's in-flight build)
    val stale = new java.io.File(warehouse, "graft_fakestale_deadbeef")
    val fresh = new java.io.File(warehouse, "graft_fakefresh_deadbeef")
    for (d <- Seq(stale, fresh)) {
      d.mkdirs()
      val f = new java.io.File(d, "part-00000")
      java.nio.file.Files.write(f.toPath, "x".getBytes("UTF-8"))
    }
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    stale.listFiles().foreach(_.setLastModified(old)); stale.setLastModified(old)

    val reference = sortedRows(graft.text.TextAnalysis.bm25StreamServe(spark, freshDir))
    val tasks: Seq[() => Unit] =
      (1 to 3).map[() => Unit](_ =>
        () => { assert(sortedRows(graft.text.TextAnalysis.bm25StreamServe(spark, freshDir)) === reference); () }
      ) ++
        Seq[() => Unit](() => { Relational.q22BucketedJoin(spark, dir).collect(); () }) ++
        (1 to 3).map[() => Unit](_ => () => { (1 to 3).foreach(_ => graft.Warehouse.warehouseHygiene(spark, sweep = true)); () })
    inParallel(tasks)
    assert(!stale.exists(), "stale unclaimed artifact must be retired by the concurrent sweep")
    assert(fresh.exists(), "fresh unclaimed artifact must survive the minAge floor")
    fresh.delete()
    // the artifacts built/served during the storm are intact afterwards
    assert(sortedRows(graft.text.TextAnalysis.bm25StreamServe(spark, freshDir)) === reference)
    assert(Relational.q22BucketedJoin(spark, dir).count() > 0)
  }

  test("histogram registry: concurrent distinct plans at the cap — correct results, bounded, drained") {
    import spark.implicits._
    // 12 distinct plans (> the cap of 8) so concurrent gets force
    // access-order evictions while siblings still hold evicted frames
    val frames = (0 until 12).map { k =>
      spark.range(200).select((col("id") % 4).cast("string").as("g"), (col("id") % (k + 5)).cast("double").as("v"))
    }
    val expected = frames.map(f => sortedRows(f.groupBy($"g", $"v").agg(count(lit(1)).as("c")).withColumn("b", floor($"v"))))
    val rnd = new scala.util.Random(3)
    val tasks: Seq[() => Unit] = (1 to 8).map { _ =>
      val order = rnd.shuffle(frames.indices.toList)
      () => order.foreach(k => assert(sortedRows(Relational.valueHistogram(frames(k))) === expected(k), s"plan $k"))
    }
    inParallel(tasks)
    // session-end release drains at most the cap — the registry stayed bounded
    val released = Relational.histograms.release(spark)
    assert(released <= 8, s"registry exceeded its cap: $released entries live at session end")
  }
}
