package graft.engine

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** The engine's input reader (`MapReduce.withInput`: M byte ranges over
  * the name-sorted files) must yield exactly the lines Spark's text scan
  * does, as a multiset, for any M, and exactly M partitions.
  */
class ByteRangeReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "byte-range-reader-spec")

  private val mappers = Seq(1, 2, 3, 4, 7, 64)

  private def tempDir(tag: String): File = {
    val d = Files.createTempDirectory(s"graft-$tag-").toFile
    d.deleteOnExit()
    d
  }

  private def write(f: File, bytes: Array[Byte]): Unit = {
    Files.write(f.toPath, bytes)
    f.deleteOnExit()
  }

  private def gzip(text: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream
    val out = new GZIPOutputStream(buf)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
    buf.toByteArray
  }

  /** Engine lines for every M, each checked against the text scan. */
  private def assertSameLines(path: String): Unit = {
    val expected = spark.read.textFile(path).collect().toList.sorted
    mappers.foreach { m =>
      val (parts, got) = MapReduce.withInput(spark, path, m)((lines, _) => (lines.getNumPartitions, lines.collect()))
      assert(parts === m, s"$path M=$m")
      assert(got.toList.sorted === expected, s"$path M=$m")
    }
  }

  private val words = Seq("a", "the", "said", "café", "naïve", "中文", "日本語", "😀", "x\ty", " ", "")

  /** Random text: multi-byte UTF-8, empty lines, `\n`/`\r\n`/`\r` breaks,
    * sometimes no final break, sometimes one line longer than the rest
    * of the file.
    */
  private def randomText(rnd: Random): String = {
    val sb = new StringBuilder
    val n = rnd.nextInt(40)
    (0 until n).foreach { i =>
      val len = if (rnd.nextInt(15) == 0) 200 + rnd.nextInt(400) else rnd.nextInt(8)
      (0 until len).foreach(j => sb ++= (if (j > 0) " " else "") + words(rnd.nextInt(words.size)))
      if (i < n - 1 || rnd.nextBoolean()) sb ++= Seq("\n", "\r\n", "\r")(rnd.nextInt(3))
    }
    sb.toString
  }

  test("random directories: same lines as spark.read.textFile for M in {1, 2, 3, 4, 7, 64}") {
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val dir = tempDir(s"reader-$seed")
      (0 until 1 + rnd.nextInt(6)).foreach { i =>
        val text = if (rnd.nextInt(5) == 0) "" else randomText(rnd)
        write(new File(dir, f"file$i%02d"), text.getBytes(UTF_8))
      }
      // skipped by both readers
      write(new File(dir, "_SUCCESS"), "success\n".getBytes(UTF_8))
      write(new File(dir, ".hidden"), "hidden\n".getBytes(UTF_8))
      write(new File(dir, "_metadata"), "metadata\n".getBytes(UTF_8))
      write(new File(dir, "part.txt._COPYING_"), "copying\n".getBytes(UTF_8))
      val sub = new File(dir, "sub")
      sub.mkdir()
      sub.deleteOnExit()
      write(new File(sub, "nested.txt"), "nested\n".getBytes(UTF_8))
      // read by both: a `_` name holding `=`, and a whole-file gzip
      write(new File(dir, "_k=v"), s"eq${seed}\n".getBytes(UTF_8))
      write(new File(dir, "packed.gz"), gzip(randomText(rnd)))
      assertSameLines(dir.getPath)
    }
  }

  test("a multi-byte character and a long line straddling the range cuts") {
    val dir = tempDir("reader-cuts")
    // 9 bytes: the M = 2 cut (byte 4) and M = 3 cut (byte 3) fall inside 😀
    write(new File(dir, "a"), "ab😀cd\n".getBytes(UTF_8))
    // one line spanning many whole ranges at M = 64
    write(new File(dir, "b"), ("x" * 500 + "\nshort\r\n" + "é" * 300).getBytes(UTF_8))
    assertSameLines(dir.getPath)
  }

  test("more mappers than bytes, an empty directory, and a single-file path") {
    val tiny = tempDir("reader-tiny")
    write(new File(tiny, "a"), "1\n".getBytes(UTF_8))
    write(new File(tiny, "b"), "2".getBytes(UTF_8))
    write(new File(tiny, "c"), Array.emptyByteArray)
    assertSameLines(tiny.getPath)
    assertSameLines(tempDir("reader-empty").getPath)
    val single = tempDir("reader-single")
    write(new File(single, "only.txt"), "one\r\ntwo\rthree".getBytes(UTF_8))
    assertSameLines(new File(single, "only.txt").getPath)
  }
}
