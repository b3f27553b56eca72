package graft.engine

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** A job's part files depend only on its input bytes, M and R, not on
  * the core count or on whether the reduce-side sort spills. The same
  * jobs run first in the shared 4-core session and then in a `local[1]`
  * session that forces a spill every 700 records and fails any task that
  * leaks managed memory; their part files must be byte-identical. The
  * jobs cover R past the 200-partition bypass-merge threshold, non-ASCII
  * piped lines and an input with more distinct pairs per map task than
  * the collapse table has slots, so the table evicts.
  *
  * The `local[1]` session replaces the shared one, so this spec stops it
  * and clears the active and default sessions afterwards, as
  * `FaultToleranceSpec` does.
  */
class SortSpillSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ByteContractSpec.inputDir

  private def corpusDir: String = getClass.getResource("/refcorpus/input_large").getPath

  /** 6,000 distinct words, each three times, in seeded order: one map
    * task sees more distinct pairs than the collapse table's 4,096 slots.
    * A third of the words share their first 8 bytes (`abcdefgh…`), so the
    * sort's prefix ties often; a third start with a 3-byte character.
    */
  private lazy val evictingWords: Seq[String] = {
    val vocab = (0 until 6000).map(i => Seq(s"abcdefgh$i", s"ｗ$i", s"w$i")(i % 3))
    new Random(485).shuffle(Seq.fill(3)(vocab).flatten)
  }

  private lazy val evictingDir = inputDir("evict", Seq(evictingWords.grouped(10).map(_.mkString(" ")).mkString("", "\n", "\n")))

  private lazy val catDir = {
    val lines = ByteContractSpec.pairLines
    inputDir("cat", Seq(lines.take(5).mkString("\n"), lines.drop(5).mkString("", "\n", "\n")))
  }

  private def wc(spark: SparkSession, in: String, out: String, m: Int, r: Int): Unit =
    MapReduce.runJob(spark, in, out,
      mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
      reducer = (w, ones) => Iterator.single(s"$w\t${ones.size}"),
      numMappers = m, numReducers = r)

  /** (name, R, job writing its part files into the given directory). */
  private val jobs: Seq[(String, Int, (SparkSession, String) => Unit)] = Seq(
    ("runJob wc input_large R=3", 3, wc(_, corpusDir, _, 4, 3)),
    ("runJob wc input_large R=201", 201, wc(_, corpusDir, _, 4, 201)),
    ("runExecJob cat/cat non-ASCII R=3", 3, MapReduce.runExecJob(_, catDir, _, "cat", "cat", 2, 3)),
    ("runJob wc evicting collapse table M=1 R=3", 3, wc(_, evictingDir, _, 1, 3))
  )

  /** Runs every job in `spark`; each job's part files in name order. */
  private def runAll(spark: SparkSession, tag: String): Seq[Seq[Array[Byte]]] =
    jobs.map { case (_, r, job) =>
      val base = Files.createTempDirectory(s"graft-spill-$tag-").toFile
      base.deleteOnExit()
      val out = new File(base, "output")
      job(spark, out.getPath)
      val names = out.list().toList.sorted
      assert(names === (0 until r).map(p => f"part-$p%05d").toList)
      names.map(n => Files.readAllBytes(new File(out, n).toPath))
    }

  private lazy val onFourCores: Seq[Seq[Array[Byte]]] = runAll(GraftSession.local(4, "sort-spill-spec"), "four")

  /** Bytes spilled by result tasks, the reduce stage of every job here. */
  private val reduceSpilled = new AtomicLong

  private lazy val oneCore: SparkSession = {
    onFourCores
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master("local[1]")
      .appName("sort-spill-spec")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "700")
      .config("spark.unsafe.exceptionOnMemoryLeak", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", GraftSession.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
        if (end.taskType == "ResultTask" && end.taskMetrics != null)
          reduceSpilled.addAndGet(end.taskMetrics.memoryBytesSpilled)
    })
    spark
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("the evicting input's word count matches a tally on 4 cores") {
    val counts = evictingWords.groupBy(identity).map { case (w, ws) => s"$w\t${ws.size}" }.toSeq
    val expected = Utf8Order.parts(counts, 3)
    onFourCores(jobs.indexWhere(_._1.contains("evicting"))).zip(expected).zipWithIndex.foreach {
      case ((got, want), p) => assert(new String(got, UTF_8) === new String(want, UTF_8), s"part $p")
    }
  }

  test("local[1] with forced spills writes the same part files as local[4], and the reduce stage spills") {
    val got = runAll(oneCore, "one")
    jobs.zip(onFourCores.zip(got)).foreach { case ((name, _, _), (four, one)) =>
      four.zip(one).zipWithIndex.foreach { case ((a, b), p) =>
        assert(a.sameElements(b), s"$name part $p differs between local[4] and local[1]")
      }
    }
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (reduceSpilled.get == 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(reduceSpilled.get > 0, "no reduce task spilled")
  }

  test("a limit(1) collect abandons a spilled sorted partition without leaking managed memory") {
    val first = MapReduce
      .run(oneCore.read.textFile(corpusDir),
        mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
        reducer = (w, ones) => Iterator.single(s"$w\t${ones.size}"),
        numReducers = 3)
      .limit(1)
      .collect()
    assert(first.length === 1)
  }
}
