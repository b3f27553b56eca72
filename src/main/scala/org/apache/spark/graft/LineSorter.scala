package org.apache.spark.graft

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.internal.config
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparators, RecordComparator, UnsafeExternalSorter}

/** Sorts a reduce partition of the engine's `(line, count)` shuffle
  * records by the line's unsigned bytes in Spark's `UnsafeExternalSorter`,
  * the binary sorter under Spark SQL's `SortExec`: records live in pages
  * of the task's accounted execution memory and spill to disk under
  * memory pressure or past the shuffle's force-spill thresholds. The
  * task's memory manager is private[spark], hence this bridge (compiled
  * into the spark namespace, as `InputMetricsBridge` is).
  *
  * A record is the line's bytes followed by its count as 8 bytes. Its
  * sort prefix is the line's first 8 bytes, big-endian and zero-padded,
  * which `PrefixComparators.BINARY` orders as an unsigned long; records
  * with equal prefixes fall back to `LineOrder`, byte by byte. Equal
  * lines are equal records, so their relative order does not matter.
  */
object LineSorter {

  private val CountBytes = 8

  /** `records` in unsigned byte order of their lines. The partition is
    * sorted on the first `hasNext`; each line is copied out of its page
    * before it is returned, and the pages and spill files are freed after
    * the last record, or at the task's end if the consumer stops early.
    */
  def sort(records: Iterator[(Array[Byte], Long)], ctx: TaskContext): Iterator[(Array[Byte], Long)] =
    new Iterator[(Array[Byte], Long)] {
      private lazy val sorted = {
        val env = SparkEnv.get
        val sorter = UnsafeExternalSorter.create(
          ctx.taskMemoryManager(),
          env.blockManager,
          env.serializerManager,
          ctx,
          () => LineOrder,
          PrefixComparators.BINARY,
          env.conf.get(config.SHUFFLE_SORT_INIT_BUFFER_SIZE).toInt,
          ctx.taskMemoryManager().pageSizeBytes(),
          env.conf.get(config.SHUFFLE_SPILL_NUM_ELEMENTS_FORCE_SPILL_THRESHOLD),
          env.conf.get(config.SHUFFLE_SPILL_MAX_SIZE_FORCE_SPILL_THRESHOLD),
          false // a radix sort orders by the prefix alone
        )
        var buf = new Array[Byte](64)
        records.foreach { case (line, count) =>
          val length = line.length + CountBytes
          if (buf.length < length) buf = new Array[Byte](math.max(length, 2 * buf.length))
          System.arraycopy(line, 0, buf, 0, line.length)
          Platform.putLong(buf, Platform.BYTE_ARRAY_OFFSET + line.length, count)
          sorter.insertRecord(buf, Platform.BYTE_ARRAY_OFFSET, length, prefix(line), false)
        }
        (sorter, sorter.getSortedIterator)
      }

      override def hasNext: Boolean = sorted._2.hasNext

      override def next(): (Array[Byte], Long) = {
        val (sorter, it) = sorted
        if (!it.hasNext) throw new NoSuchElementException
        it.loadNext()
        val base = it.getBaseObject
        val offset = it.getBaseOffset
        val line = new Array[Byte](it.getRecordLength - CountBytes)
        Platform.copyMemory(base, offset, line, Platform.BYTE_ARRAY_OFFSET, line.length)
        val count = Platform.getLong(base, offset + line.length)
        if (!it.hasNext) sorter.cleanupResources()
        (line, count)
      }
    }

  /** The line's first 8 bytes as a big-endian long, zero-padded. */
  private def prefix(line: Array[Byte]): Long = {
    var p = 0L
    var i = 0
    while (i < 8) {
      p = (p << 8) | (if (i < line.length) line(i) & 0xffL else 0L)
      i += 1
    }
    p
  }

  /** Unsigned byte order of the lines, ignoring the counts. */
  private object LineOrder extends RecordComparator {
    override def compare(a: AnyRef, aOffset: Long, aLength: Int, b: AnyRef, bOffset: Long, bLength: Int): Int = {
      val n = math.min(aLength, bLength) - CountBytes
      var i = 0
      while (i < n) {
        val x = Platform.getByte(a, aOffset + i) & 0xff
        val y = Platform.getByte(b, bOffset + i) & 0xff
        if (x != y) return x - y
        i += 1
      }
      aLength - bLength
    }
  }
}
