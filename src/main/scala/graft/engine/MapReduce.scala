package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{Partition, Partitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graft.{InputMetricsBridge, LineSorter}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedWriter, EOFException, IOException, InputStream, OutputStream, OutputStreamWriter}
import java.lang.ref.WeakReference
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Arrays
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.hashing.byteswap32

/** The reference engine's capability core, re-expressed Spark-first.
  *
  * The reference (EECS 485 P4) runs every job through one fixed DAG:
  * flatMap a mapper executable over text lines, hash-partition its
  * `key\tvalue` output on `int(md5(key),16) % R` (pinned by
  * reference tests/test_worker_08.py:196-242), merge-sort each reduce
  * partition by the whole `key\tvalue` line in Python, which is code
  * point order (pinned by tests/test_worker_07.py:117-124 — fixture
  * inputs are unsorted, output is asserted sorted), then stream the
  * sorted lines through a reducer that relies on equal keys being
  * adjacent (tests/testdata/exec/wc_reduce.sh uses `uniq -c`), and leave
  * exactly R `part-NNNNN` files. All text is UTF-8.
  *
  * Here every job is one RDD pipeline. The reference sorts its input
  * files and hands them to exactly M map tasks; `runJob`/`runExecJob`
  * lay the name-sorted files end to end and cut that byte stream into M
  * equal ranges, one map partition each (`byteRanges`), with no Spark
  * SQL scan and no repartition. Then `flatMap` → `shuffleSort`, the one
  * shuffle every job shares: each record travels as one UTF-8 line
  * (`key\tvalue` for a native pair, the mapper's line verbatim for a
  * piped one), a map-side collapse turns repeated records into
  * `(line, count)`, md5 of the bytes before the first tab picks the
  * reducer, each reduce partition is sorted by unsigned byte order of
  * the whole line — the same order as code points, so the reference's —
  * in Spark's binary external sorter (`LineSorter`), and each record is
  * expanded back into `count` copies → a streaming adjacent-key group
  * iterator → reducer → `writeParts`, where each reduce task streams its
  * sorted partition straight into its own `part-NNNNN` file. Records
  * equal in key and value are indistinguishable, so collapse + expand
  * hands every reducer the same value stream as shuffling each pair
  * alone would, while a word count shuffles about a quarter of the
  * records. Each phase is distributed and never materializes a partition
  * on the heap (iterator chain end-to-end; the collapse table is a fixed
  * size per map task; the sort keeps its records in pages of the task's
  * accounted execution memory and spills them to disk), mirroring the
  * reference's <1 MiB streaming bound (tests/test_worker_11.py:119-122)
  * and scaling to arbitrarily large partitions. The reader and the sink
  * see the session's Hadoop configuration through one broadcast per
  * SparkContext and configuration content (`confBroadcast`), reused by
  * every job until an entry changes.
  * `run`/`runKV` expose the same core as Datasets.
  *
  * A native key may not hold a tab: the text protocol cannot express
  * one, and a record routes and groups by the bytes before its first
  * tab. The job fails with an `IllegalArgumentException` naming the key.
  */
object MapReduce {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Reference partition function: `int(md5(utf8(key)),16) % R`
    * (reference tests/test_worker_08.py — {"",hello,bye} → 0 and
    * {world,goodbye,hadoop} → 1 when R=2).
    */
  def md5Partition(key: String, numPartitions: Int): Int =
    digestMod(md5.get.digest(key.getBytes(UTF_8)), numPartitions)

  /** `md5Partition` of the UTF-8 key `line(0 until end)`. */
  private def md5Partition(line: Array[Byte], end: Int, numPartitions: Int): Int = {
    val md = md5.get
    md.update(line, 0, end)
    digestMod(md.digest(), numPartitions)
  }

  /** The 128-bit digest `d` as a big-endian unsigned integer, mod R. It
    * is reduced one 32-bit word at a time (Horner's rule mod R): the
    * remainder is below R < 2^31, so `acc << 32 | word` stays below 2^63,
    * a Long never overflows and the result equals the BigInteger formula.
    */
  private def digestMod(d: Array[Byte], numPartitions: Int): Int = {
    val r = numPartitions.toLong
    var acc = 0L
    var i = 0
    while (i < d.length) {
      val word = (d(i) & 0xffL) << 24 | (d(i + 1) & 0xff) << 16 | (d(i + 2) & 0xff) << 8 | (d(i + 3) & 0xff)
      acc = ((acc << 32) | word) % r
      i += 4
    }
    acc.toInt
  }

  /** Where a record's key ends: its first tab, or its end if it has none. */
  private def keyEnd(line: Array[Byte]): Int = {
    var i = 0
    while (i < line.length && line(i) != '\t') i += 1
    i
  }

  /** Routes records by md5(key) % R, so records with equal keys
    * co-locate while the reduce-side sort can still order by the whole
    * line. A shuffle line (`Array[Byte]`) routes by the UTF-8 bytes before
    * its first tab, a `(key, value)` tuple by its key, and a bare key by
    * itself, so `key\tvalue`, `(key, value)` and `key` all agree.
    */
  final class Md5KeyPartitioner(override val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key match {
      case line: Array[Byte] => md5Partition(line, keyEnd(line), numPartitions)
      case (k: String, _)    => md5Partition(k, numPartitions)
      case k: String         => md5Partition(k, numPartitions)
      case other             => md5Partition(String.valueOf(other), numPartitions)
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

  /** The shuffle every job shares. Each record is one UTF-8 line
    * (`codec`); every map task collapses repeated records into
    * `(line, count)` (`Collapse`), the line's key (the bytes before its
    * first tab) picks its reducer by md5 (`Md5KeyPartitioner`), each
    * reduce partition is sorted by the unsigned bytes of the whole line,
    * and each record is expanded back into `count` copies (`Expand`).
    * Equal lines sort next to each other, so the output is the same
    * stream of records, in the same order, as shuffling every record on
    * its own. Unsigned UTF-8 byte order is code point order, the order
    * the reference's Python sort gives. The `key\t…` lines of one key are
    * contiguous, as the reducers need, because no key holds a tab. The
    * shuffle moves the lines in `LineSerializer`'s format, unordered; the
    * reduce task sorts them in `LineSorter`, Spark's binary external
    * sorter: records in pages of accounted execution memory, compared by
    * an 8-byte prefix and byte by byte past it, spilled to disk under
    * memory pressure or past the shuffle's force-spill thresholds.
    */
  private[engine] def shuffleSort[T <: AnyRef: ClassTag](records: RDD[T], numReducers: Int, codec: LineCodec[T]): RDD[T] =
    new ShuffledRDD[Array[Byte], Long, Long](records.mapPartitions(new Collapse(_, codec)), new Md5KeyPartitioner(numReducers))
      .setSerializer(new LineSerializer)
      .mapPartitions(part => new Expand(LineSorter.sort(part, TaskContext.get()), codec), preservesPartitioning = true)

  /** How one kind of record becomes its shuffle line and back. `slot`
    * hashes a record for `Collapse`, and `same` tells it whether two
    * records are equal by `String.equals` on their fields.
    */
  private[engine] sealed abstract class LineCodec[T] extends Serializable {
    def slot(record: T): Int
    def same(a: T, b: T): Boolean
    def encode(record: T): Array[Byte]
    def decode(line: Array[Byte]): T
  }

  /** A native `(key, value)` pair is the line `key\tvalue`. A key with a
    * tab throws `IllegalArgumentException`: read back, the line would
    * split at that tab. An unpaired surrogate, which UTF-8 cannot hold,
    * encodes as `?`, as the part-file sink writes it.
    */
  private[engine] object PairLines extends LineCodec[(String, String)] {
    override def slot(kv: (String, String)): Int = kv._1.hashCode ^ byteswap32(kv._2.hashCode)
    override def same(a: (String, String), b: (String, String)): Boolean = a._1.equals(b._1) && a._2.equals(b._2)

    override def encode(kv: (String, String)): Array[Byte] = {
      val k = kv._1.getBytes(UTF_8)
      if (keyEnd(k) < k.length)
        throw new IllegalArgumentException(s"MapReduce key contains a tab: \"${kv._1.replace("\t", "\\t")}\"")
      val v = kv._2.getBytes(UTF_8)
      val line = Arrays.copyOf(k, k.length + 1 + v.length)
      line(k.length) = '\t'
      System.arraycopy(v, 0, line, k.length + 1, v.length)
      line
    }

    override def decode(line: Array[Byte]): (String, String) = {
      val t = keyEnd(line)
      (new String(line, 0, t, UTF_8), new String(line, t + 1, line.length - t - 1, UTF_8))
    }
  }

  /** A piped mapper's line is its own shuffle line, byte for byte. Its
    * key is the text before its first tab, or the whole line.
    */
  private[engine] object PipedLines extends LineCodec[String] {
    override def slot(line: String): Int = {
      var keyHash = 0 // `String.hashCode` of the text before the first tab
      var i = 0
      while (i < line.length && line.charAt(i) != '\t') {
        keyHash = 31 * keyHash + line.charAt(i)
        i += 1
      }
      keyHash ^ byteswap32(line.hashCode)
    }
    override def same(a: String, b: String): Boolean = a.equals(b)
    override def encode(line: String): Array[Byte] = line.getBytes(UTF_8)
    override def decode(line: Array[Byte]): String = new String(line, UTF_8)
  }

  /** The shuffle's wire format for `(line, count)` records: the line's
    * length and the count as unsigned LEB128 varints around the line's
    * bytes. Spark reads and writes shuffle records with `writeKey`/
    * `writeValue` and `readKey`/`readValue`, so those are all it has; a
    * clean end of stream before a key is `EOFException`, as Spark's
    * record iterator expects.
    */
  private final class LineSerializer extends Serializer with Serializable {
    override def newInstance(): SerializerInstance = new SerializerInstance {
      override def serializeStream(s: OutputStream): SerializationStream = new SerializationStream {
        private def varint(n: Long): Unit = {
          var v = n
          while ((v & ~0x7fL) != 0) {
            s.write(((v & 0x7f) | 0x80).toInt)
            v >>>= 7
          }
          s.write(v.toInt)
        }
        override def writeKey[K: ClassTag](key: K): SerializationStream = {
          val line = key.asInstanceOf[Array[Byte]]
          varint(line.length)
          s.write(line)
          this
        }
        override def writeValue[V: ClassTag](count: V): SerializationStream = {
          varint(count.asInstanceOf[Long])
          this
        }
        override def writeObject[O: ClassTag](o: O): SerializationStream = unsupported
        override def flush(): Unit = s.flush()
        override def close(): Unit = s.close()
      }

      override def deserializeStream(s: InputStream): DeserializationStream = new DeserializationStream {
        private def varint(): Long = {
          var v = 0L
          var shift = 0
          var b = 0x80
          while ((b & 0x80) != 0) {
            b = s.read()
            if (b < 0) throw new EOFException
            v |= (b & 0x7fL) << shift
            shift += 7
          }
          v
        }
        override def readKey[K: ClassTag](): K = {
          val line = new Array[Byte](varint().toInt)
          var off = 0
          while (off < line.length) {
            val n = s.read(line, off, line.length - off)
            if (n < 0) throw new EOFException
            off += n
          }
          line.asInstanceOf[K]
        }
        override def readValue[V: ClassTag](): V = varint().asInstanceOf[V]
        override def readObject[O: ClassTag](): O = unsupported
        override def close(): Unit = s.close()
      }

      override def serialize[O: ClassTag](o: O): ByteBuffer = unsupported
      override def deserialize[O: ClassTag](bytes: ByteBuffer): O = unsupported
      override def deserialize[O: ClassTag](bytes: ByteBuffer, loader: ClassLoader): O = unsupported
    }

    private def unsupported: Nothing =
      throw new UnsupportedOperationException("the engine's shuffle serializer only moves (line, count) records")
  }

  /** Slots in a map task's collapse table. On the reference word count
    * 256, 1,024, 4,096 and 16,384 slots left 163k, 117k, 68k and 45k of
    * its 282k shuffle records.
    */
  private val CollapseSlots = 4096

  /** Counts repeats of records in a direct-mapped table of
    * `CollapseSlots` slots: a record equal (`LineCodec.same`) to the one
    * in its slot bumps that slot's count; any other record evicts the
    * slot as `(line, count)` and takes it. The table is flushed when the
    * input ends. Only evicted and flushed records are encoded. The hash
    * only picks the slot, so a collision costs an extra record, never a
    * wrong count. A slot hash (`LineCodec.slot`) mixes the key's hash
    * with that of the value, or of the whole line for a piped line, which
    * begins with its key: unmixed, `31·hash(key) + hash(line)` puts all
    * `word\t1` lines in 128 of the 4,096 slots.
    */
  private final class Collapse[T <: AnyRef](it: Iterator[T], codec: LineCodec[T])
      extends Iterator[(Array[Byte], Long)] {
    private val held = new Array[AnyRef](CollapseSlots)
    private val counts = new Array[Long](CollapseSlots)
    private var out: (Array[Byte], Long) = _
    private var flushed = 0

    private def emit(slot: Int): Unit = out = (codec.encode(held(slot).asInstanceOf[T]), counts(slot))

    override def hasNext: Boolean = {
      while (out == null && it.hasNext) {
        val r = it.next()
        val s = codec.slot(r) & (CollapseSlots - 1)
        val h = held(s)
        if (h != null && codec.same(h.asInstanceOf[T], r)) counts(s) += 1
        else {
          if (h != null) emit(s)
          held(s) = r
          counts(s) = 1
        }
      }
      while (out == null && flushed < CollapseSlots) {
        if (held(flushed) != null) emit(flushed)
        flushed += 1
      }
      out != null
    }
    override def next(): (Array[Byte], Long) = {
      if (!hasNext) throw new NoSuchElementException
      val r = out
      out = null
      r
    }
  }

  /** Decodes each `(line, count)` record once and streams it as `count`
    * copies of the same record object: constant memory for any count.
    */
  private final class Expand[T](it: Iterator[(Array[Byte], Long)], codec: LineCodec[T]) extends Iterator[T] {
    private var record: T = _
    private var left = 0L

    override def hasNext: Boolean = left > 0 || it.hasNext
    override def next(): T = {
      if (left == 0) {
        val (line, count) = it.next()
        record = codec.decode(line)
        left = count
      }
      left -= 1
      record
    }
  }

  /** map → `shuffleSort` → each key's values streamed to `reducer`. */
  private def mapReduce[O: ClassTag](
      lines: RDD[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[O],
      numReducers: Int
  ): RDD[O] =
    shuffleSort(lines.flatMap(mapper), numReducers, PairLines).mapPartitions { part =>
      new AdjacentGroups(part).flatMap { case (k, vs) => reducer(k, vs).iterator }
    }

  /** Runs a full map→shuffle→sort→reduce job with the reference's exact
    * semantics. `mapper` may emit 0..n pairs per line (it is a flatMap —
    * reference mappers are generators); `reducer` sees each key's values
    * as one contiguous sorted stream and may emit any number of output
    * lines. Output Dataset has `numReducers` partitions, each internally
    * sorted by the `key\tvalue` line exactly like a reference
    * `part-NNNNN` file. A key holding a tab fails the job with an
    * `IllegalArgumentException` naming it.
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
    writeParts(output.rdd, outputDir, confBroadcast(output.sparkSession.sparkContext))

  /** Job-descriptor entry point — the reference's single user-facing API
    * (reference mapreduce/submit.py:59-78: a job is `{input_directory,
    * output_directory, mapper_executable, reducer_executable, num_mappers,
    * num_reducers}`). Reads the text directory as exactly `numMappers`
    * byte ranges (`byteRanges`), runs the map→shuffle→sort→reduce
    * pipeline with one map task per range, and leaves EXACTLY
    * `numReducers` files named `part-00000 … part-0000(R-1)` in
    * `outputDir` (reference tests/test_integration_03.py:85 pins the
    * exact file count; :67-75 the descriptor shape). The job runs in two
    * stages, map and reduce, whatever M is. A key holding a tab fails the
    * job with an `IllegalArgumentException` naming it, and the output
    * directory is removed.
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
      writeParts(pipeLines(lines, mapperCmd, reducerCmd, numReducers), outputDir, conf)
    }

  /** One map task per partition of `lines`: each runs `mapperCmd`, a
    * shell command, as a child process fed the lines chunk by chunk
    * (`RDD.pipe`, the reference's `subprocess` pipes), and each reduce
    * task runs `reducerCmd` the same way over its sorted partition. A
    * mapper line's key is the text before its first tab, or the whole
    * line when it has none; md5 of the key picks the line's reducer. Each
    * line is one record of `shuffleSort`, so the reducer gets each line
    * byte for byte as the mapper wrote it, sorted by unsigned UTF-8 bytes
    * of the whole line (equal keys adjacent). The pipes are UTF-8
    * whatever the JVM's default charset; a child that writes invalid
    * UTF-8 fails its task.
    */
  private def pipeLines(lines: RDD[String], mapperCmd: String, reducerCmd: String, numReducers: Int): RDD[String] =
    shuffleSort(lines.pipe(Seq("/bin/sh", "-c", mapperCmd), encoding = "UTF-8"), numReducers, PipedLines)
      .pipe(Seq("/bin/sh", "-c", reducerCmd), encoding = "UTF-8")

  /** Runs `job` over `inputDir`'s lines, read as exactly M map
    * partitions (`byteRanges`, `ByteRangeRDD`), with the session's conf
    * broadcast (`confBroadcast`) for its sink. The input is listed before
    * anything is broadcast or written.
    */
  private[engine] def withInput[A](spark: SparkSession, inputDir: String, numMappers: Int)(
      job: (RDD[String], Broadcast[SerializableConfiguration]) => A
  ): A = {
    val ranges = byteRanges(spark, inputDir, numMappers)
    val conf = confBroadcast(spark.sparkContext)
    job(new ByteRangeRDD(spark.sparkContext, ranges, conf), conf)
  }

  /** The broadcast behind `confBroadcast`: `sc` (weakly held, so a
    * stopped context can be collected), the broadcast configuration's
    * entries, and the broadcast.
    */
  private final class ConfMemo(
      val sc: WeakReference[SparkContext],
      val entries: java.util.Map[String, String],
      val conf: Broadcast[SerializableConfiguration]
  )

  private var confMemo: ConfMemo = _

  /** The session's Hadoop configuration as Spark's file readers see it,
    * broadcast once per SparkContext and configuration content: every job
    * reuses the broadcast while `sc.hadoopConfiguration` holds the same
    * entries, and a changed entry or another SparkContext gets a new one.
    * Java-serializing its ~1,000 entries is a large share of a small
    * job's fixed cost, so it is paid once, not per job. The broadcast
    * holds a copy of the configuration, so a later change cannot reach
    * tasks through it. A replaced broadcast is not destroyed, since a
    * running job may still read it; the ContextCleaner drops it once
    * unreferenced.
    */
  private def confBroadcast(sc: SparkContext): Broadcast[SerializableConfiguration] = synchronized {
    val entries = entriesOf(sc.hadoopConfiguration)
    val memo = confMemo
    if (memo != null && (memo.sc.get eq sc) && memo.entries.equals(entries)) memo.conf
    else {
      val copy = new Configuration(sc.hadoopConfiguration)
      confMemo = new ConfMemo(new WeakReference(sc), entriesOf(copy), sc.broadcast(new SerializableConfiguration(copy)))
      confMemo.conf
    }
  }

  private def entriesOf(conf: Configuration): java.util.Map[String, String] = {
    val entries = new java.util.HashMap[String, String]
    conf.forEach(e => entries.put(e.getKey, e.getValue))
    entries
  }

  /** The `JobConf` this JVM's map tasks read input with, built at most
    * once per conf broadcast: a `TaskAttemptContextImpl` over a
    * `Configuration` copies every entry into a new `JobConf`, over a
    * `JobConf` it copies nothing. It is keyed by broadcast id, and by the
    * identity of the broadcast's value, since a new SparkContext in the
    * same JVM numbers its broadcasts from 0 again.
    */
  private object TaskJobConf {
    private final class Entry(val id: Long, val source: SerializableConfiguration, val jobConf: JobConf)
    private var last: Entry = _

    def apply(conf: Broadcast[SerializableConfiguration]): JobConf = {
      val source = conf.value
      synchronized {
        if (last == null || last.id != conf.id || (last.source ne source))
          last = new Entry(conf.id, source, new JobConf(source.value))
        last.jobConf
      }
    }
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
      new RangeLines(split.asInstanceOf[ByteRange].chunks, TaskJobConf(conf), ctx)
  }

  /** Streams a range's chunks in order, one open reader at a time; the
    * task's end closes a reader its consumer abandoned.
    */
  private final class RangeLines(chunks: Array[Chunk], conf: JobConf, ctx: TaskContext)
      extends Iterator[String] {
    private val counter = new InputMetricsBridge.Counter(ctx)
    private val attempt = new TaskAttemptContextImpl(conf, new TaskAttemptID())
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
          reader.initialize(new FileSplit(new Path(c.path), c.start, c.length, Array.empty[String]), attempt)
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
    * session's Hadoop configuration through `conf`, the session's conf
    * broadcast (`confBroadcast`).
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
