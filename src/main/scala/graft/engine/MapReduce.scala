package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{Partition, Partitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graft.InputMetricsBridge
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedWriter, IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.hashing.byteswap32

/** The reference engine's capability core, re-expressed Spark-first.
  *
  * The reference (EECS 485 P4) runs every job through one fixed DAG:
  * flatMap a mapper executable over text lines, hash-partition its
  * `key\tvalue` output on `int(md5(key),16) % R` (pinned by
  * reference tests/test_worker_08.py:196-242), merge-sort each reduce
  * partition lexicographically by the whole `key\tvalue` line (pinned by
  * tests/test_worker_07.py:117-124 — fixture inputs are unsorted, output
  * is asserted sorted), then stream the sorted lines through a reducer
  * that relies on equal keys being adjacent (tests/testdata/exec/
  * wc_reduce.sh uses `uniq -c`), and leave exactly R `part-NNNNN` files.
  *
  * Here every job is one RDD pipeline. The reference sorts its input
  * files and hands them to exactly M map tasks; `runJob`/`runExecJob`
  * lay the name-sorted files end to end and cut that byte stream into M
  * equal ranges, one map partition each (`byteRanges`), with no Spark
  * SQL scan and no repartition. Then `flatMap` → a map-side collapse
  * of repeated (key, value) pairs into `((key, value), count)` records →
  * `repartitionAndSortWithinPartitions` with an md5-mod-R partitioner and
  * (key,value) lexicographic ordering → a reduce-side expand of each
  * record back into `count` copies (`shuffleSort`) → a streaming
  * adjacent-key group iterator → reducer → `writeParts`, where each
  * reduce task streams its sorted partition straight into its own
  * `part-NNNNN` file. Records equal in key and value are
  * indistinguishable, so collapse + expand hands every reducer the same
  * value stream as shuffling each pair alone would, while a word count
  * shuffles about a quarter of the records. Each phase is distributed
  * and never materializes a partition in memory (iterator chain
  * end-to-end; the collapse table is a fixed size per map task),
  * mirroring the reference's <1 MiB streaming bound
  * (tests/test_worker_11.py:119-122) and scaling to arbitrarily large
  * partitions (Spark's sort spills to disk). The reader and the sink see
  * the session's Hadoop configuration through one broadcast per job.
  * `run`/`runKV` expose the same core as Datasets.
  */
object MapReduce {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Reference partition function: `int(md5(utf8(key)),16) % R`
    * (reference tests/test_worker_08.py — {"",hello,bye} → 0 and
    * {world,goodbye,hadoop} → 1 when R=2). The 128-bit digest is reduced
    * big-endian byte by byte (Horner's rule mod R); each step stays below
    * 256·R < 2^39, so a Long never overflows and the result equals the
    * BigInteger formula.
    */
  def md5Partition(key: String, numPartitions: Int): Int = {
    val d = md5.get.digest(key.getBytes(UTF_8))
    val r = numPartitions.toLong
    var acc = 0L
    var i = 0
    while (i < d.length) {
      acc = ((acc << 8) | (d(i) & 0xff)) % r
      i += 1
    }
    acc.toInt
  }

  /** Partitions composite (key,value) records by md5(key) % R, so records
    * with equal keys co-locate while the shuffle ordering can still sort
    * by the full (key,value) line.
    */
  final class Md5KeyPartitioner(override val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key match {
      case (k: String, _) => md5Partition(k, numPartitions)
      case k: String      => md5Partition(k, numPartitions)
      case other          => md5Partition(String.valueOf(other), numPartitions)
    }
  }

  /** Lazily groups a (key,value)-sorted iterator into (key, values)
    * streams without materializing a group. The values iterator of group
    * i must be consumed (or abandoned) before group i+1 is requested —
    * same contract as Hadoop's reduce iterator; we drain any unconsumed
    * remainder defensively.
    */
  private final class AdjacentGroups(it: Iterator[(String, String)])
      extends Iterator[(String, Iterator[String])] {
    private val buf = it.buffered
    private var current: ValuesIter = _

    private final class ValuesIter(key: String) extends Iterator[String] {
      override def hasNext: Boolean = buf.hasNext && buf.head._1 == key
      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        buf.next()._2
      }
      def drain(): Unit = while (hasNext) next()
    }

    override def hasNext: Boolean = {
      if (current != null) { current.drain(); current = null }
      buf.hasNext
    }
    override def next(): (String, Iterator[String]) = {
      if (!hasNext) throw new NoSuchElementException
      val key = buf.head._1
      current = new ValuesIter(key)
      (key, current)
    }
  }

  /** The reference's M fixed map tasks for a `Dataset` input
    * (`Pipe.pipeJob`): `lines` is repartitioned to `numMappers` splits
    * when its scan planned a different count; `numMappers <= 0` keeps the
    * scan's natural splits. `runJob`/`runExecJob` read M ranges directly
    * (`byteRanges`).
    */
  private[engine] def withMappers(lines: RDD[String], numMappers: Int): RDD[String] =
    if (numMappers > 0 && lines.getNumPartitions != numMappers) lines.repartition(numMappers)
    else lines

  /** The shuffle every job shares: (key, value) records routed by
    * md5(key) % R, each reduce partition sorted by the whole (key, value).
    * Each map task first collapses repeated pairs into
    * `((key, value), count)` records (`Collapse`); each reduce task
    * expands them back (`Expand`) after the sort. Equal pairs sort next
    * to each other, so the output is the same stream of pairs, in the
    * same order, as shuffling every pair on its own.
    */
  private[engine] def shuffleSort(mapped: RDD[(String, String)], numReducers: Int): RDD[(String, String)] =
    mapped
      .mapPartitions(new Collapse(_))
      .repartitionAndSortWithinPartitions(new Md5KeyPartitioner(numReducers))
      .mapPartitions(new Expand(_), preservesPartitioning = true)

  /** Slots in a map task's collapse table. On the reference word count
    * 256, 1,024, 4,096 and 16,384 slots left 163k, 117k, 68k and 45k of
    * its 282k shuffle records.
    */
  private val CollapseSlots = 4096

  /** Counts repeats of (key, value) pairs in a direct-mapped table of
    * `CollapseSlots` slots: a pair equal (`String` equality on key and
    * value) to the one in its slot bumps that slot's count; any other
    * pair evicts the slot as `(pair, count)` and takes it. The table is
    * flushed when the input ends. The hash only picks the slot, so a
    * collision costs an extra record, never a wrong count. The value's
    * hash is mixed because a piped mapper line, the value there, begins
    * with its key: unmixed, `31·hash(key) + hash(line)` puts all
    * `word\t1` lines in 128 of the 4,096 slots.
    */
  private final class Collapse(it: Iterator[(String, String)]) extends Iterator[((String, String), Long)] {
    private val pairs = new Array[(String, String)](CollapseSlots)
    private val counts = new Array[Long](CollapseSlots)
    private var out: ((String, String), Long) = _
    private var flushed = 0

    override def hasNext: Boolean = {
      while (out == null && it.hasNext) {
        val kv = it.next()
        val s = (kv._1.hashCode ^ byteswap32(kv._2.hashCode)) & (CollapseSlots - 1)
        val held = pairs(s)
        if (held != null && held._1 == kv._1 && held._2 == kv._2) counts(s) += 1
        else {
          if (held != null) out = (held, counts(s))
          pairs(s) = kv
          counts(s) = 1
        }
      }
      while (out == null && flushed < CollapseSlots) {
        if (pairs(flushed) != null) out = (pairs(flushed), counts(flushed))
        flushed += 1
      }
      out != null
    }
    override def next(): ((String, String), Long) = {
      if (!hasNext) throw new NoSuchElementException
      val r = out
      out = null
      r
    }
  }

  /** Streams each `(pair, count)` record as `count` copies of the same
    * pair object: constant memory for any count.
    */
  private final class Expand(it: Iterator[((String, String), Long)]) extends Iterator[(String, String)] {
    private var kv: (String, String) = _
    private var left = 0L

    override def hasNext: Boolean = left > 0 || it.hasNext
    override def next(): (String, String) = {
      if (left == 0) {
        val (pair, count) = it.next()
        kv = pair
        left = count
      }
      left -= 1
      kv
    }
  }

  /** map → `shuffleSort` → each key's values streamed to `reducer`. */
  private def mapReduce[O: ClassTag](
      lines: RDD[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[O],
      numReducers: Int
  ): RDD[O] =
    shuffleSort(lines.flatMap(mapper), numReducers).mapPartitions { part =>
      new AdjacentGroups(part).flatMap { case (k, vs) => reducer(k, vs).iterator }
    }

  /** Runs a full map→shuffle→sort→reduce job with the reference's exact
    * semantics. `mapper` may emit 0..n pairs per line (it is a flatMap —
    * reference mappers are generators); `reducer` sees each key's values
    * as one contiguous sorted stream and may emit any number of output
    * lines. Output Dataset has `numReducers` partitions, each internally
    * sorted by (key, value) exactly like a reference `part-NNNNN` file.
    */
  def run(
      input: Dataset[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[String],
      numReducers: Int
  ): Dataset[String] = {
    val spark = input.sparkSession
    import spark.implicits._
    spark.createDataset(mapReduce(input.rdd, mapper, reducer, numReducers))
  }

  /** Same pipeline but returning typed (key, value) rows — convenient
    * when the reducer output is itself `key\tvalue` shaped and the caller
    * wants a DataFrame for SQL-surface verification.
    */
  def runKV(
      input: Dataset[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[(String, String)],
      numReducers: Int
  ): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    spark.createDataset(mapReduce(input.rdd, mapper, reducer, numReducers))
  }

  /** Reference-style final sink (SURVEY.md §2a op #9): writes the job
    * output as exactly `part-00000 … part-0000(R-1)` text files in
    * `outputDir`, one per partition of `output` — byte-compatible with
    * the reference's layout (reference tests/test_worker_07.py:106-114
    * pins the names, test_integration_03.py:85 the file count). `run`'s
    * output already has R internally-sorted partitions. See `writeParts`
    * for the directory contract.
    */
  def saveTextParts(output: Dataset[String], outputDir: String): Unit =
    withJobConf(output.sparkSession.sparkContext)(writeParts(output.rdd, outputDir, _))

  /** Job-descriptor entry point — the reference's single user-facing API
    * (reference mapreduce/submit.py:59-78: a job is `{input_directory,
    * output_directory, mapper_executable, reducer_executable, num_mappers,
    * num_reducers}`). Reads the text directory as exactly `numMappers`
    * byte ranges (`byteRanges`), runs the map→shuffle→sort→reduce
    * pipeline with one map task per range, and leaves EXACTLY
    * `numReducers` files named `part-00000 … part-0000(R-1)` in
    * `outputDir` (reference tests/test_integration_03.py:85 pins the
    * exact file count; :67-75 the descriptor shape). The job runs in two
    * stages, map and reduce, whatever M is.
    *
    * `numMappers <= 0` lets Spark size the map side:
    * `sc.defaultParallelism` ranges, or more when
    * `spark.sql.files.maxPartitionBytes` would cut the input finer. A
    * missing `inputDir` throws `java.io.FileNotFoundException` before
    * `outputDir` is created.
    */
  def runJob(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[String],
      numMappers: Int,
      numReducers: Int
  ): Unit =
    withInput(spark, inputDir, numMappers) { (lines, conf) =>
      writeParts(mapReduce(lines, mapper, reducer, numReducers), outputDir, conf)
    }

  /** `runJob` with *external executables* as mapper/reducer — the literal
    * reference descriptor (`mapper_executable`/`reducer_executable` are
    * paths to programs speaking the stdin/stdout text protocol, e.g.
    * reference tests/testdata/exec/wc_map.sh). Input splitting,
    * `numMappers <= 0` and a missing `inputDir` behave as in `runJob`.
    */
  def runExecJob(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      mapperCmd: String,
      reducerCmd: String,
      numMappers: Int,
      numReducers: Int
  ): Unit =
    withInput(spark, inputDir, numMappers) { (lines, conf) =>
      writeParts(Pipe.pipeLines(lines, mapperCmd, reducerCmd, numReducers), outputDir, conf)
    }

  /** Runs `job` over `inputDir`'s lines, read as exactly M map
    * partitions (`byteRanges`, `ByteRangeRDD`), with the job's one conf
    * broadcast (`withJobConf`) for its sink. The input is listed before
    * anything is broadcast or written.
    */
  private[engine] def withInput[A](spark: SparkSession, inputDir: String, numMappers: Int)(
      job: (RDD[String], Broadcast[SerializableConfiguration]) => A
  ): A = {
    val ranges = byteRanges(spark, inputDir, numMappers)
    withJobConf(spark.sparkContext)(conf => job(new ByteRangeRDD(spark.sparkContext, ranges, conf), conf))
  }

  /** Runs `job` with the session's Hadoop configuration broadcast once,
    * as Spark's file readers see it: the input reader and the part-file
    * sink of one job share it. Destroyed when the job ends.
    */
  private def withJobConf[A](sc: SparkContext)(job: Broadcast[SerializableConfiguration] => A): A = {
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    try job(conf)
    finally conf.destroy()
  }

  /** `length` bytes of the file at `path`, from byte `start`. */
  private final case class Chunk(path: String, start: Long, length: Long)

  private final class ByteRange(override val index: Int, val chunks: Array[Chunk]) extends Partition

  /** The job's input cut into map ranges (SURVEY.md §2a ops #1-#2).
    * `inputDir` is listed once: the files directly in it (or `inputDir`
    * itself, if it is a file), skipping subdirectories and the names
    * Spark's file index hides (see `hidden`), as `spark.read.textFile`
    * does. The files are sorted by name and laid end to end, and that
    * byte stream is cut into exactly M equal ranges; range r gets a
    * `Chunk` of every file it overlaps. A file whose codec cannot split
    * (gzip) is one chunk of the range holding its first byte. M is
    * `numMappers`, or for `numMappers <= 0` the larger of
    * `sc.defaultParallelism` and the input size over
    * `spark.sql.files.maxPartitionBytes`. A missing `inputDir` throws
    * `FileNotFoundException`.
    */
  private def byteRanges(spark: SparkSession, inputDir: String, numMappers: Int): Array[ByteRange] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(inputDir)
    val files = dir.getFileSystem(conf).listStatus(dir)
      .filter(f => f.isFile && f.getLen > 0 && !hidden(f.getPath.getName))
      .sortBy(_.getPath.getName)
    val total = files.map(_.getLen).sum
    val m =
      if (numMappers > 0) numMappers
      else {
        val maxBytes = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        math.max(spark.sparkContext.defaultParallelism, ((total + maxBytes - 1) / maxBytes).toInt)
      }
    def bound(r: Int): Long = total * r / m
    val codecs = new CompressionCodecFactory(conf)
    val chunks = Array.fill(m)(ArrayBuffer.empty[Chunk])
    var offset = 0L
    var r = 0 // the range holding byte `offset`
    files.foreach { f =>
      val path = f.getPath.toString
      val end = offset + f.getLen
      while (bound(r + 1) <= offset) r += 1
      codecs.getCodec(f.getPath) match {
        case c if c != null && !c.isInstanceOf[SplittableCompressionCodec] =>
          chunks(r) += Chunk(path, 0, f.getLen)
        case _ =>
          var q = r
          while (q < m && bound(q) < end) {
            val from = math.max(bound(q), offset)
            val to = math.min(bound(q + 1), end)
            if (to > from) chunks(q) += Chunk(path, from - offset, to - from)
            q += 1
          }
      }
      offset = end
    }
    Array.tabulate(m)(i => new ByteRange(i, chunks(i).toArray))
  }

  /** Names Spark's file index leaves out of a scan: `_`-prefixed ones
    * (unless they hold a `=`, like a partition directory), `.`-prefixed
    * ones, and in-progress `._COPYING_` uploads.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The job's input lines, one partition per `ByteRange`. Each task
    * reads its chunks with Hadoop's `LineRecordReader`, the reader under
    * Spark's text scan, so line breaks are `\n`, `\r\n` or `\r`, and a
    * last line without one is still read. A chunk that starts inside a
    * file skips through the first line break, and every chunk reads on
    * through the first line break at or after its last byte. So each
    * line is read once: by the range holding the line break before it,
    * or a file's first line by the range holding the file's first byte.
    * Lines decode as `new String(bytes, 0, len, UTF_8)`, as a
    * `Dataset[String]` row's `UTF8String.toString` does. Records and
    * bytes read go to the task's input metrics.
    */
  private final class ByteRangeRDD(
      sc: SparkContext,
      @transient private val ranges: Array[ByteRange],
      conf: Broadcast[SerializableConfiguration]
  ) extends RDD[String](sc, Nil) {
    override protected def getPartitions: Array[Partition] = ranges.toArray[Partition]

    override def compute(split: Partition, ctx: TaskContext): Iterator[String] =
      new RangeLines(split.asInstanceOf[ByteRange].chunks, conf.value.value, ctx)
  }

  /** Streams a range's chunks in order, one open reader at a time; the
    * task's end closes a reader its consumer abandoned.
    */
  private final class RangeLines(chunks: Array[Chunk], conf: Configuration, ctx: TaskContext)
      extends Iterator[String] {
    private val counter = new InputMetricsBridge.Counter(ctx)
    private var nextChunk = 0
    private var reader: LineRecordReader = _
    private var ready = false
    ctx.addTaskCompletionListener[Unit](_ => close())

    override def hasNext: Boolean = {
      while (!ready && (reader != null || nextChunk < chunks.length)) {
        if (reader == null) {
          val c = chunks(nextChunk)
          nextChunk += 1
          reader = new LineRecordReader()
          reader.initialize(
            new FileSplit(new Path(c.path), c.start, c.length, Array.empty[String]),
            new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        }
        ready = reader.nextKeyValue()
        if (!ready) close()
      }
      ready
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      counter.record()
      val line = reader.getCurrentValue
      new String(line.getBytes, 0, line.getLength, UTF_8)
    }

    private def close(): Unit = if (reader != null) {
      try reader.close()
      finally {
        reader = null
        counter.flush()
      }
    }
  }

  /** The `part-NNNNN` sink, in one Spark job. `outputDir` must not exist
    * (`FileAlreadyExistsException`, directory untouched — the Hadoop sink
    * contract). Reduce task p streams its partition, one `\n`-terminated
    * UTF-8 line per record, into a hidden attempt-unique file and renames
    * it to `part-%05d` only once the partition is fully written, so
    * readers never see a partial part:
    *   - a failed attempt deletes its own temp file;
    *   - a retried or speculative attempt that loses the race leaves
    *     nothing behind — its rename fails (HDFS) or atomically replaces
    *     the identical part (POSIX); either way no stray file;
    *   - if the job fails, the directory this call created is deleted;
    *     temp files are created non-recursively, so a straggler cannot
    *     re-create it.
    * Writes go through the raw (non-checksummed) filesystem, so no
    * `.crc` siblings appear; there is no committer and no `_SUCCESS`
    * marker, so the listing is exactly the part files. Tasks see the
    * session's Hadoop configuration through the job's broadcast `conf`.
    */
  private def writeParts(lines: RDD[String], outputDir: String, conf: Broadcast[SerializableConfiguration]): Unit = {
    val sc = lines.sparkContext
    val dir = new Path(outputDir)
    val fs = rawFileSystem(dir, sc.hadoopConfiguration)
    if (fs.exists(dir)) throw new FileAlreadyExistsException(s"Output directory $dir already exists")
    if (!fs.mkdirs(dir)) throw new IOException(s"Could not create output directory $dir")
    val dirName = dir.toString
    try sc.runJob(lines, (ctx: TaskContext, part: Iterator[String]) => writePart(conf.value.value, dirName, ctx, part))
    catch {
      case t: Throwable =>
        fs.delete(dir, true)
        throw t
    }
  }

  private def writePart(conf: Configuration, dirName: String, ctx: TaskContext, lines: Iterator[String]): Unit = {
    val dir = new Path(dirName)
    val fs = rawFileSystem(dir, conf)
    val name = f"part-${ctx.partitionId()}%05d"
    val tmp = new Path(dir, s".$name-${ctx.taskAttemptId()}")
    try {
      val stream = fs.createNonRecursive(
        tmp, false, 1 << 16, fs.getDefaultReplication(tmp), fs.getDefaultBlockSize(tmp), null)
      val out = new BufferedWriter(new OutputStreamWriter(stream, UTF_8), 1 << 16)
      try lines.foreach { l => out.write(l); out.write('\n') }
      finally out.close()
      val part = new Path(dir, name)
      if (!fs.rename(tmp, part)) {
        fs.delete(tmp, false)
        if (!fs.exists(part)) throw new IOException(s"Could not rename $tmp to $part")
      }
    } catch {
      case t: Throwable =>
        fs.delete(tmp, false)
        throw t
    }
  }

  /** The filesystem under `path`, without the checksumming wrapper that
    * would add hidden `.crc` siblings to the output listing.
    */
  private def rawFileSystem(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f                     => f
    }
}
