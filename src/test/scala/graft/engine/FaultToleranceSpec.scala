package graft.engine

import graft.GraftSession
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.io.Source

/** SURVEY §2a op #12 (heartbeat → dead-worker task reassignment) is
  * delegated to Spark's task-retry machinery. This spec PROVES the
  * delegated contract the way the reference's worker-failure harness
  * does (reference tests/utils/__init__.py worker_alive / slow-executable
  * fixtures): a map task that dies on its first attempt is rescheduled
  * and the job still yields the reference-golden word count.
  *
  * Local mode schedules with maxFailures = 1 unless the master is
  * `local[threads, maxFailures]`, so this spec builds its own session
  * (and restores a clean slate afterwards for the other suites).
  */
class FaultToleranceSpec extends AnyFunSuite {

  private def resource(path: String): String =
    getClass.getResource(s"/refcorpus/$path").getPath

  private def lines(path: String): List[String] = {
    val src = Source.fromFile(resource(path), "UTF-8")
    try src.getLines().toList
    finally src.close()
  }

  test("a first-attempt task failure is retried and still yields the golden word count") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master("local[4, 2]") // 2 = spark.task.maxFailures in local mode
      .appName("fault-tolerance-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", GraftSession.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val input = spark.createDataset((1 to 8).flatMap(i => lines(f"input/file$i%02d")))
      val got = MapReduce
        .run(
          input,
          mapper = line => {
            val tc = TaskContext.get()
            // the injected "dead worker": partition 0's first attempt dies
            if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
              throw new RuntimeException("injected first-attempt task failure")
            line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1"))
          },
          reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
          numReducers = 2
        )
        .collect()
        .sorted
      val golden = lines("correct/word_count_correct.txt").sorted
      assert(got.toList === golden)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
