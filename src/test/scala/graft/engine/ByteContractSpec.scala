package graft.engine

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random

/** The reference's byte contract on non-ASCII text: part files hold
  * UTF-8 lines, each routed by md5 of its key's UTF-8 bytes and each
  * part sorted in code point order (unsigned UTF-8 byte order) of the
  * whole line, whatever the JVM's default charset and however the input
  * is split. Expected bytes come from `Utf8Order`, which never uses the
  * JVM's `String` order. The keys mix a character below `\t`, U+FF48
  * (UTF-16 orders it after U+1F600, code points before), the empty key,
  * and keys that share their first 8 bytes, which the engine's sort
  * prefix cannot tell apart.
  */
class ByteContractSpec extends AnyFunSuite {
  import ByteContractSpec.{inputDir, pairLines}

  lazy val spark: SparkSession = GraftSession.local(4, "byte-contract-spec")

  private val wcMap = """tr '[A-Z]' '[a-z]' | awk '{ for (i = 1; i <= NF; i++) print $i"\t1" }'"""
  private val wcReduce = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'"""

  private def outputDir(tag: String): String = {
    val base = Files.createTempDirectory(s"graft-$tag-out-").toFile
    base.deleteOnExit()
    new File(base, "output").getPath
  }

  /** The job's part files, in name order, as bytes. */
  private def parts(outDir: String, numReducers: Int): Seq[Array[Byte]] = {
    val names = new File(outDir).list().toList.sorted
    assert(names === (0 until numReducers).map(r => f"part-$r%05d").toList)
    names.map(n => Files.readAllBytes(new File(outDir, n).toPath))
  }

  private def assertParts(got: Seq[Array[Byte]], expected: Seq[Array[Byte]], clue: String): Unit =
    got.zip(expected).zipWithIndex.foreach { case ((g, e), r) =>
      assert(new String(g, UTF_8) === new String(e, UTF_8), s"$clue part $r")
      assert(g.sameElements(e), s"$clue part $r bytes")
    }

  private def identityJob(in: String, out: String, m: Int, r: Int): Unit =
    MapReduce.runJob(spark, in, out,
      mapper = line => {
        val t = line.indexOf('\t')
        Iterator.single((line.substring(0, t), line.substring(t + 1)))
      },
      reducer = (k, vs) => vs.map(v => s"$k\t$v"),
      numMappers = m, numReducers = r)

  private def wcJob(in: String, out: String, m: Int, r: Int): Unit =
    MapReduce.runJob(spark, in, out,
      mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
      reducer = (w, ones) => Iterator.single(s"$w\t${ones.size}"),
      numMappers = m, numReducers = r)

  test("runJob: one reducer writes the key\\tvalue lines in code point order") {
    val out = outputDir("order")
    identityJob(inputDir("order", Seq(pairLines.mkString("", "\n", "\n"))), out, 1, 1)
    // written out by hand: U+0001 < \t, and U+FF48 (EF BD 88) < U+1F600 (F0 9F 98 80)
    // and past 8 shared bytes: U+0000 < \t < '1' < é (C3 A9), and é as the 8th byte sorts after 'h'
    val expected = Seq("\t1", "a\u0001\t1", "a\t1", "a\t1", "a\t2", "abcdefgh\u0000\t1", "abcdefgh\t1",
      "abcdefgh1\t1", "abcdefghé\t1", "abcdefgé\t1", "café\t1", "café\t1", "ｈ\t1", "😀\t1")
    assert(new String(parts(out, 1).head, UTF_8) === expected.mkString("", "\n", "\n"))
  }

  test("runJob and runExecJob cat/cat: exact md5-routed, code-point-sorted part files") {
    val in = inputDir("cat", Seq(pairLines.take(4).mkString("\n"), pairLines.drop(4).mkString("", "\n", "\n")))
    for (r <- Seq(1, 3)) {
      val expected = Utf8Order.parts(pairLines, r)
      val native = outputDir(s"native-r$r")
      identityJob(in, native, 2, r)
      assertParts(parts(native, r), expected, s"runJob R=$r")
      val piped = outputDir(s"cat-r$r")
      MapReduce.runExecJob(spark, in, piped, "cat", "cat", numMappers = 2, numReducers = r)
      assertParts(parts(piped, r), expected, s"runExecJob cat/cat R=$r")
    }
  }

  test("runExecJob with the wc scripts counts non-ASCII words into exact part files") {
    val text = Seq("a café ｈ 😀", "A a\u0001 😀 Café", "ｈ a")
    val in = inputDir("wc", Seq(text.mkString("", "\n", "\n")))
    val counts = Seq("a\t3", "a\u0001\t1", "café\t2", "ｈ\t2", "😀\t2")
    for (r <- Seq(1, 3)) {
      val out = outputDir(s"wc-r$r")
      MapReduce.runExecJob(spark, in, out, wcMap, wcReduce, numMappers = 1, numReducers = r)
      assertParts(parts(out, r), Utf8Order.parts(counts, r), s"wc scripts R=$r")
    }
  }

  test("part files do not depend on M: multi-byte characters across range cuts, M in {1, 3, 4, 7}") {
    val vocab = Seq("😀", "😀ｈ", "ｈ", "café", "中文", "日本語", "naïve", "said", "a", "a\u0001", "Naïve")
    val mappers = Seq(1, 3, 4, 7)
    def text(seed: Int): Seq[String] = {
      val rnd = new Random(seed)
      Seq.fill(3) {
        Seq.fill(20 + rnd.nextInt(20))(Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
          .mkString("", "\n", "\n")
      }
    }
    // the input is read as M equal byte ranges of the files laid end to
    // end: take the first seed where, for every M > 1, some cut falls
    // inside a multi-byte character
    def straddles(files: Seq[String]): Boolean = {
      val bytes = files.map(_.getBytes(UTF_8)).reduce(_ ++ _)
      mappers.filter(_ > 1).forall { m =>
        (1 until m).exists(i => (bytes((bytes.length.toLong * i / m).toInt) & 0xc0) == 0x80)
      }
    }
    val files = Iterator.from(485).map(text).find(straddles).get
    val counts = files.flatMap(_.split("\n")).flatMap(_.toLowerCase.split(" "))
      .groupBy(identity).map { case (w, ws) => s"$w\t${ws.size}" }.toSeq
    val expected = Utf8Order.parts(counts, 3)
    val in = inputDir("split", files)
    mappers.foreach { m =>
      val native = outputDir(s"split-native-m$m")
      wcJob(in, native, m, 3)
      assertParts(parts(native, 3), expected, s"runJob M=$m")
      val piped = outputDir(s"split-exec-m$m")
      MapReduce.runExecJob(spark, in, piped, wcMap, wcReduce, numMappers = m, numReducers = 3)
      assertParts(parts(piped, 3), expected, s"runExecJob M=$m")
    }
  }
}

object ByteContractSpec {

  /** A temporary input directory holding `files`, named `file00`, `file01`, …. */
  def inputDir(tag: String, files: Seq[String]): String = {
    val dir = Files.createTempDirectory(s"graft-$tag-in-").toFile
    dir.deleteOnExit()
    files.zipWithIndex.foreach { case (text, i) =>
      val f = new File(dir, f"file$i%02d")
      Files.write(f.toPath, text.getBytes(UTF_8))
      f.deleteOnExit()
    }
    dir.getPath
  }

  /** Mapper lines, unsorted, with repeats. */
  val pairLines: Seq[String] = Seq("😀\t1", "abcdefghé\t1", "a\t2", "abcdefgh1\t1", "ｈ\t1", "abcdefgé\t1",
    "a\u0001\t1", "\t1", "abcdefgh\t1", "café\t1", "a\t1", "abcdefgh\u0000\t1", "a\t1", "café\t1")
}
