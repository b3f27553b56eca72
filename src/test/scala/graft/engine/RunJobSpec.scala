package graft.engine

import graft.GraftSession
import org.apache.hadoop.fs.FileAlreadyExistsException
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.io.Source

/** End-to-end job-descriptor parity with the reference's integration
  * suite: `runJob(inputDir, outputDir, mapper, reducer, M, R)` must
  * behave exactly like submitting the reference's job dict
  * (reference mapreduce/submit.py:59-78) — dir in, `part-NNNNN` files
  * out, merged contents equal to the published golden output.
  * Mirrors reference tests/test_integration_03.py:67-98 (M=4, R=2).
  */
class RunJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "run-job-spec")

  private def resource(path: String): String =
    getClass.getResource(s"/refcorpus/$path").getPath

  private def goldenLines(name: String): List[String] = {
    val src = Source.fromFile(resource(s"correct/$name"), "UTF-8")
    try src.getLines().toList
    finally src.close()
  }

  private def freshOutputDir(tag: String): String = {
    val base = Files.createTempDirectory(s"graft-$tag-").toFile
    base.deleteOnExit()
    // must not pre-exist: the part-file sink refuses an existing dir
    new File(base, "output").getPath
  }

  private def readLines(f: File): List[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList
    finally src.close()
  }

  private val wcMapper: String => Iterator[(String, String)] =
    line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1"))

  test("runJob: M=4 R=2 word count — exact part files, golden contents (test_integration_03)") {
    val outDir = freshOutputDir("runjob")
    MapReduce.runJob(
      spark,
      inputDir = resource("input"),
      outputDir = outDir,
      // wc_map.sh semantics: lowercase, split on space/tab, keep empties
      mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
      // wc_reduce.sh semantics: uniq -c over adjacent sorted keys
      reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
      numMappers = 4,
      numReducers = 2
    )

    // reference :85 — the output dir holds EXACTLY the R part files
    // (os.listdir sees hidden files too, so crc/_SUCCESS must be gone)
    val listing = new File(outDir).list().toList.sorted
    assert(listing === List("part-00000", "part-00001"))

    // reference :87-98 — merged sorted part contents equal the golden file
    val merged = listing.flatMap { f =>
      val src = Source.fromFile(new File(outDir, f), "UTF-8")
      try src.getLines().toList
      finally src.close()
    }.sorted
    assert(merged === goldenLines("word_count_correct.txt").sorted)

    // each part is sorted by whole line in code point order and keys are
    // md5-routed, like a reference part file (tests/test_worker_07/08)
    listing.zipWithIndex.foreach { case (f, i) =>
      val src = Source.fromFile(new File(outDir, f), "UTF-8")
      val ls = try src.getLines().toList finally src.close()
      assert(ls === ls.sorted(Utf8Order.lines), s"$f not sorted")
      ls.foreach { l =>
        val key = l.substring(0, l.indexOf('\t'))
        assert(MapReduce.md5Partition(key, 2) === i, s"key '$key' in wrong part")
      }
    }
  }

  test("runExecJob: external executables dir-to-dir (submit.py executable descriptor)") {
    val outDir = freshOutputDir("execjob")
    MapReduce.runExecJob(
      spark,
      inputDir = resource("input"),
      outputDir = outDir,
      // the reference wc_map.sh / wc_reduce.sh pipelines, inlined
      mapperCmd = """tr '[A-Z]' '[a-z]' | awk '{ for (i = 1; i <= NF; i++) print $i"\t1" }'""",
      reducerCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
      numMappers = 4,
      numReducers = 2
    )
    val listing = new File(outDir).list().toList.sorted
    assert(listing === List("part-00000", "part-00001"))
    val merged = listing.flatMap { f =>
      val src = Source.fromFile(new File(outDir, f), "UTF-8")
      try src.getLines().toList
      finally src.close()
    }.sorted
    // awk's NF-loop drops empty tokens; golden minus the empty-key line
    // (native-closure runJob above covers empty keys)
    assert(merged === goldenLines("word_count_correct.txt").filterNot(_.startsWith("\t")).sorted)
  }

  test("runExecJob: numMappers=0 keeps the scan's natural splits (same convention as runJob)") {
    val outDir = freshOutputDir("execjob0")
    MapReduce.runExecJob(
      spark,
      inputDir = resource("input"),
      outputDir = outDir,
      mapperCmd = """tr '[A-Z]' '[a-z]' | awk '{ for (i = 1; i <= NF; i++) print $i"\t1" }'""",
      reducerCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
      numMappers = 0,
      numReducers = 2
    )
    val listing = new File(outDir).list().toList.sorted
    assert(listing === List("part-00000", "part-00001"))
    val merged = listing.flatMap { f =>
      val src = Source.fromFile(new File(outDir, f), "UTF-8")
      try src.getLines().toList
      finally src.close()
    }.sorted
    assert(merged === goldenLines("word_count_correct.txt").filterNot(_.startsWith("\t")).sorted)
  }

  test("runExecJob: the reducer gets mapper lines verbatim, with or without a tab") {
    val inDir = Files.createTempDirectory("graft-verbatim-in-").toFile
    inDir.deleteOnExit()
    val lines = List("gamma", "beta\tb1", "alpha", "alpha\t", "alpha", "beta\tb0\tmore")
    Files.write(new File(inDir, "input.txt").toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val outDir = freshOutputDir("verbatim")
    MapReduce.runExecJob(spark, inDir.getPath, outDir, "cat", "cat", numMappers = 1, numReducers = 1)
    assert(new File(outDir).list().toList === List("part-00000"))
    // one reducer: the lines come back sorted, each as the mapper wrote it
    assert(readLines(new File(outDir, "part-00000")) ===
      List("alpha", "alpha", "alpha\t", "beta\tb0\tmore", "beta\tb1", "gamma"))
  }

  test("runJob: an existing output dir fails fast and is left untouched") {
    val outDir = new File(freshOutputDir("exists"))
    outDir.mkdirs()
    val keep = new File(outDir, "keep.txt")
    Files.write(keep.toPath, "precious\n".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException] {
      MapReduce.runJob(spark, resource("input"), outDir.getPath, wcMapper,
        (word, ones) => Iterator.single(s"$word\t${ones.size}"), numMappers = 4, numReducers = 2)
    }
    assert(outDir.list().toList === List("keep.txt"))
    assert(readLines(keep) === List("precious"))
  }

  test("runJob: a failed job removes its output dir, leaving no part files") {
    val outDir = freshOutputDir("failjob")
    intercept[SparkException] {
      MapReduce.runJob(spark, resource("input"), outDir, wcMapper,
        reducer = (word, ones) => {
          if (TaskContext.getPartitionId() == 0) throw new IllegalStateException("injected reduce failure")
          Iterator.single(s"$word\t${ones.size}")
        },
        numMappers = 4, numReducers = 2)
    }
    assert(!new File(outDir).exists, Option(new File(outDir).list()).map(_.toList))
  }

  test("runJob: a key holding a tab fails the job with IllegalArgumentException naming it, no output dir") {
    val outDir = freshOutputDir("tabkey")
    val e = intercept[SparkException] {
      MapReduce.runJob(spark, resource("input"), outDir,
        mapper = line => Iterator(("ok", "1"), ("tab\tkey", line)),
        reducer = (k, vs) => Iterator.single(s"$k\t${vs.size}"), numMappers = 4, numReducers = 2)
    }
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: IllegalArgumentException => c }
    assert(cause.exists(_.getMessage.contains("\"tab\\tkey\"")), e)
    assert(!new File(outDir).exists)
  }

  test("runJob: a missing input dir throws and leaves no output dir") {
    val outDir = freshOutputDir("missing")
    val missing = new File(Files.createTempDirectory("graft-missing-").toFile, "absent").getPath
    intercept[FileNotFoundException] {
      MapReduce.runJob(spark, missing, outDir, wcMapper,
        (word, ones) => Iterator.single(s"$word\t${ones.size}"), numMappers = 4, numReducers = 2)
    }
    assert(!new File(outDir).exists)
  }

  test("runJob: an empty input dir gives exactly R empty part files") {
    val inDir = Files.createTempDirectory("graft-empty-in-").toFile
    inDir.deleteOnExit()
    val outDir = freshOutputDir("empty")
    MapReduce.runJob(spark, inDir.getPath, outDir, wcMapper,
      (word, ones) => Iterator.single(s"$word\t${ones.size}"), numMappers = 4, numReducers = 3)
    val listing = new File(outDir).list().toList.sorted
    assert(listing === List("part-00000", "part-00001", "part-00002"))
    listing.foreach(f => assert(new File(outDir, f).length === 0L, f))
  }

  test("runJob: M=3 reads 3 map ranges in 2 stages, golden contents") {
    val sc = spark.sparkContext
    val group = "runjob-m3"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val mapTasks = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId)
          e.stageIds.foreach(stages.add)
          val mapStages = e.stageInfos.flatMap(_.parentIds).toSet
          e.stageInfos.filter(s => mapStages(s.stageId)).foreach(s => mapTasks.addAndGet(s.numTasks))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) done.countDown()
    }
    val outDir = freshOutputDir("runjob-m3")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try MapReduce.runJob(spark, resource("input"), outDir, wcMapper,
        (word, ones) => Iterator.single(s"$word\t${ones.size}"), numMappers = 3, numReducers = 2)
      finally sc.clearJobGroup()
      // listener events are delivered asynchronously
      assert(done.await(60, TimeUnit.SECONDS), "job end not seen")
      assert(jobs.size === 1)
      assert(stages.size === 2)
      assert(mapTasks.get === 3)
    } finally sc.removeSparkListener(listener)
    val listing = new File(outDir).list().toList.sorted
    assert(listing === List("part-00000", "part-00001"))
    assert(listing.flatMap(f => readLines(new File(outDir, f))).sorted === goldenLines("word_count_correct.txt").sorted)
  }

  // Last in the suite: local mode retries a failed task only under a
  // `local[threads, maxFailures]` master, so this test swaps the shared
  // session for its own and leaves a clean slate (as FaultToleranceSpec).
  test("runJob: a failed first reduce attempt is retried into exactly R golden parts, no temp files") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val retrying = SparkSession
      .builder()
      .master("local[4, 2]")
      .appName("run-job-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", GraftSession.warehouseDir)
      .getOrCreate()
    retrying.sparkContext.setLogLevel("WARN")
    try {
      val outDir = freshOutputDir("retry")
      MapReduce.runJob(retrying, resource("input"), outDir, wcMapper,
        reducer = (word, ones) => {
          // every first attempt dies after its temp part file is open
          if (TaskContext.get().attemptNumber() == 0) throw new IllegalStateException("injected first-attempt failure")
          Iterator.single(s"$word\t${ones.size}")
        },
        numMappers = 4, numReducers = 2)
      val listing = new File(outDir).list().toList.sorted
      assert(listing === List("part-00000", "part-00001"))
      val merged = listing.flatMap(f => readLines(new File(outDir, f))).sorted
      assert(merged === goldenLines("word_count_correct.txt").sorted)
    } finally {
      retrying.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
