package graft.engine

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.io.Source
import scala.util.Random

/** Pins the reference's MapReduce semantics (FIXTURES.md §A invariants)
  * against the reference's own corpus: word-count and grep golden
  * outputs, the md5 partition function's documented key grouping, and
  * partition/sort invariants.
  */
class MapReduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "mapreduce-spec")

  private def resource(path: String): String =
    getClass.getResource(s"/refcorpus/$path").getPath

  private def inputLines: Seq[String] = {
    (1 to 8).flatMap { i =>
      val src = Source.fromFile(resource(f"input/file$i%02d"), "UTF-8")
      try src.getLines().toList
      finally src.close()
    }
  }

  test("md5Partition groups keys exactly like the reference (test_worker_08)") {
    // reference tests/test_worker_08.py:196-223: with R=2, part 0 holds
    // {hello, bye, ""} and part 1 holds {goodbye, hadoop, world}
    for (k <- Seq("hello", "bye", "")) assert(MapReduce.md5Partition(k, 2) === 0, k)
    for (k <- Seq("goodbye", "hadoop", "world")) assert(MapReduce.md5Partition(k, 2) === 1, k)
  }

  test("md5Partition is total and stable (seeded property sweep)") {
    val rnd = new Random(42)
    (1 to 500).foreach { _ =>
      val k = rnd.alphanumeric.take(rnd.nextInt(20)).mkString + (if (rnd.nextBoolean()) "é中" else "")
      val r = 1 + rnd.nextInt(64)
      val p = MapReduce.md5Partition(k, r)
      assert(p >= 0 && p < r)
      assert(p === MapReduce.md5Partition(k, r))
    }
  }

  test("engine word count matches the reference golden output (test_integration_02)") {
    import spark.implicits._
    val input = spark.createDataset(inputLines)
    val got = MapReduce
      .run(
        input,
        // wc_map.sh semantics: lowercase, split on space/tab, keep empties
        mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
        // wc_reduce.sh semantics: uniq -c over adjacent sorted keys
        reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
        numReducers = 2
      )
      .collect()
      .sorted
    val golden = {
      val src = Source.fromFile(resource("correct/word_count_correct.txt"), "UTF-8")
      try src.getLines().toList.sorted
      finally src.close()
    }
    assert(got.toList === golden)
  }

  test("engine grep matches the reference golden output byte-for-byte (test_integration_01)") {
    import spark.implicits._
    val input = spark.createDataset(inputLines)
    val got = MapReduce
      .run(
        input,
        // grep_map.py semantics: emit 1\tline when lowercased line contains
        // "product" and is non-blank
        mapper = line =>
          if (line.trim.nonEmpty && line.toLowerCase.contains("product")) Iterator.single(("1", line))
          else Iterator.empty,
        // grep_reduce.py semantics: drop the key
        reducer = (_, lines) => lines,
        numReducers = 1
      )
      .collect()
      .toList
    val golden = {
      val src = Source.fromFile(resource("correct/grep_correct.txt"), "UTF-8")
      try src.getLines().toList
      finally src.close()
    }
    // single reducer + all keys "1" ⇒ output globally sorted, byte-equal
    assert(got === golden)
  }

  test("equal keys land in one partition; partitions are (key,value)-sorted (test_worker_07/08)") {
    val rnd = new Random(7)
    val keys = Seq("a", "b", "", "k1", "k2", "möö")
    val kvs = List.fill(500)((keys(rnd.nextInt(keys.size)), rnd.alphanumeric.take(6).mkString))
    val r = 3
    val parts = MapReduce
      .shuffleSort(spark.sparkContext.parallelize(kvs, 4), r, MapReduce.PairLines)
      .mapPartitionsWithIndex { case (i, it) => it.map { case (k, v) => (i, k, v) } }
      .collect()
    assert(parts.map(t => (t._2, t._3)).toList.sorted === kvs.sorted)
    // every key appears in exactly the partition md5Partition assigns
    parts.foreach { case (p, k, _) => assert(p === MapReduce.md5Partition(k, r)) }
    // within each partition, rows are sorted by the whole `key\tvalue` line
    parts.groupBy(_._1).values.foreach { rows =>
      val lines = rows.map(t => s"${t._2}\t${t._3}").toSeq
      assert(lines === lines.sorted(Utf8Order.lines))
    }
  }

  test("reducer sees each key's values contiguously and streams groups lazily") {
    import spark.implicits._
    // each input line is one `key\tvalue` pair; the map-side collapse
    // must be invisible whatever the repeats, evictions and partitions
    val mapper: String => Iterator[(String, String)] = line => {
      val i = line.indexOf('\t')
      Iterator.single((line.substring(0, i), line.substring(i + 1)))
    }
    val cases: Seq[(String, Seq[String], Int)] = Seq(
      ("7 keys, distinct values", (1 to 1000).map(i => s"k${i % 7}\tv$i"), 4),
      ("thousands of copies of one pair", Seq.fill(5000)("hot\tsame") :+ "hot\tother", 4),
      // 6,000 distinct pairs, each repeated far apart, in one map task:
      // more pairs than collapse slots, so slots collide and evict
      ("evictions in one map partition", (0 until 20000).map { i => val j = i % 6000; s"d${j % 37}\tv$j" }, 1),
      ("same pair in every map partition", Seq.fill(400)("every\tone"), 4),
      ("empty key, empty value, non-ASCII",
        Seq("\tempty-key", "\tempty-key", "k\t", "k\t", "k\tx", "\t", "\t", "möö\t中文", "möö\té",
          "möö\té", "ß\t😀", "😀\tß"), 3)
    )
    for ((name, lines, mapParts) <- cases) {
      val input = spark.createDataset(spark.sparkContext.parallelize(lines, mapParts))
      val out = MapReduce
        .runKV(
          input,
          mapper = mapper,
          // one output row per group: a key split into two groups would
          // show up twice
          reducer = (k, vs) => Iterator.single((k, vs.mkString("\n"))),
          numReducers = 4
        )
        .collect()
        .toList
        .sorted
      val expected = lines
        .flatMap(mapper)
        .groupBy(_._1)
        .map { case (k, kvs) => (k, kvs.map(_._2).sorted.mkString("\n")) }
        .toList
        .sorted
      assert(out === expected, name)
    }
  }

  test("map-side collapse: 4 map tasks of 100,000 equal pairs shuffle exactly 4 records") {
    val sc = spark.sparkContext
    val group = "collapse-volume"
    val written = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId)
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) done.countDown()
    }
    import spark.implicits._
    val input = spark.createDataset(sc.parallelize(Seq("a", "b", "c", "d"), 4))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out =
        try
          MapReduce
            .run(
              input,
              mapper = _ => Iterator.fill(100000)(("hot", "1")),
              reducer = (k, ones) => Iterator.single(s"$k\t${ones.size}"),
              numReducers = 4
            )
            .collect()
            .toList
        finally sc.clearJobGroup()
      // listener events are delivered asynchronously; task ends precede
      // their job's end on the bus
      assert(done.await(60, TimeUnit.SECONDS), "job end not seen")
      assert(out === List("hot\t400000"))
      assert(written.get === 4L)
    } finally sc.removeSparkListener(listener)
  }
}
