package graft.engine

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.duration.DurationInt
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.io.Source

/** The engine ships the session's Hadoop configuration to its tasks in
  * one broadcast per SparkContext and configuration content, not one per
  * job. Broadcasts are counted by bracketing a job between two
  * `sc.broadcast(0)` calls: ids are consecutive per context, and a job's
  * own broadcasts are its conf broadcast, if any, plus one task binary
  * per stage (a job here runs a map and a reduce stage).
  */
class ConfBroadcastSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "conf-broadcast-spec")

  private val StagesPerJob = 2

  private def resource(path: String): String =
    getClass.getResource(s"/refcorpus/$path").getPath

  private def readLines(f: File): List[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList
    finally src.close()
  }

  private def freshOutputDir(tag: String): String = {
    val base = Files.createTempDirectory(s"graft-$tag-").toFile
    base.deleteOnExit()
    new File(base, "output").getPath
  }

  private def partLines(outDir: String): List[String] =
    new File(outDir).list().toList.sorted.flatMap(f => readLines(new File(outDir, f)))

  private def wordCount(inputDir: String, outDir: String): Unit =
    MapReduce.runJob(spark, inputDir, outDir,
      mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
      reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
      numMappers = 4, numReducers = 2)

  /** Broadcasts `job` creates, when nothing else runs a job meanwhile. */
  private def broadcastsOf(job: => Unit): Long = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0).id
    job
    sc.broadcast(0).id - before - 1
  }

  private lazy val golden: List[String] = readLines(new File(resource("correct/word_count_correct.txt"))).sorted

  test("a repeated job with an unchanged configuration creates no conf broadcast") {
    val first = broadcastsOf(wordCount(resource("input"), freshOutputDir("conf-first")))
    val second = broadcastsOf(wordCount(resource("input"), freshOutputDir("conf-second")))
    // the first may build the session's conf broadcast; the second reuses it
    assert(first === StagesPerJob || first === StagesPerJob + 1)
    assert(second === StagesPerJob)
  }

  test("a changed configuration entry gets a new conf broadcast, and tasks read the new value") {
    val sc = spark.sparkContext
    // in a one-range job the input reader skips a line at least this
    // many bytes long
    val key = "mapreduce.input.linerecordreader.line.maxlength"
    val inDir = Files.createTempDirectory("graft-conf-maxlength-").toFile
    inDir.deleteOnExit()
    Files.write(new File(inDir, "input.txt").toPath, "short\na much longer line\nshort\n".getBytes("UTF-8"))
    def countLines(outDir: String): Unit =
      MapReduce.runJob(spark, inDir.getPath, outDir, mapper = line => Iterator.single((line, "1")),
        reducer = (line, ones) => Iterator.single(s"$line\t${ones.size}"), numMappers = 1, numReducers = 1)
    val saved = Option(sc.hadoopConfiguration.get(key))
    try {
      val before = freshOutputDir("conf-before")
      broadcastsOf(countLines(before))
      assert(partLines(before) === List("a much longer line\t1", "short\t2"))

      sc.hadoopConfiguration.setInt(key, 10)
      val after = freshOutputDir("conf-after")
      assert(broadcastsOf(countLines(after)) === StagesPerJob + 1)
      assert(partLines(after) === List("short\t2"))
    } finally saved match {
      case Some(v) => sc.hadoopConfiguration.set(key, v)
      case None    => sc.hadoopConfiguration.unset(key)
    }
    // the restored configuration is new content again: a new broadcast,
    // whose tasks read every line
    val restored = freshOutputDir("conf-restored")
    assert(broadcastsOf(countLines(restored)) === StagesPerJob + 1)
    assert(partLines(restored) === List("a much longer line\t1", "short\t2"))
  }

  test("4 concurrent runJob calls each leave the golden part files") {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val outDirs = (0 until 4).map(i => freshOutputDir(s"conf-concurrent-$i"))
      Await.result(Future.sequence(outDirs.map(d => Future(wordCount(resource("input"), d)))), 5.minutes)
      outDirs.foreach { d =>
        assert(new File(d).list().toList.sorted === List("part-00000", "part-00001"))
        assert(partLines(d).sorted === golden, d)
      }
    } finally pool.shutdown()
  }
}
