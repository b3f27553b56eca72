package graft.sources

import graft.GraftSession
import graft.engine.{MapReduce, Utf8Order}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.io.Source
import scala.jdk.CollectionConverters._

/** Directory-of-text-files source (SURVEY §2a op #1) and reference-style
  * part-file sink (op #9) over the reference's own corpus.
  */
class TextSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "text-source-spec")
  private def corpusDir: String =
    getClass.getResource("/refcorpus/input").getPath
  private def golden(name: String): List[String] = {
    val src = Source.fromFile(getClass.getResource(s"/refcorpus/correct/$name").getPath, "UTF-8")
    try src.getLines().toList
    finally src.close()
  }

  test("directory scan enumerates all files; inventory is name-sorted (op #1)") {
    val inv = TextSource.fileInventory(spark, corpusDir).collect()
    assert(inv.length === 8)
    val files = inv.map(_.getString(0)).toSeq
    assert(files === files.sorted)
    assert(files.zipWithIndex.forall { case (f, i) => f.endsWith(f"file${i + 1}%02d") })
  }

  test("wordcountDir over the text directory matches the golden output") {
    val got = TextSource.wordcountDir(spark, corpusDir).collect().sorted.toList
    assert(got === golden("word_count_correct.txt").sorted)
  }

  test("grepDir matches the grep golden byte-for-byte") {
    val got = TextSource.grepDir(spark, corpusDir).collect().toList
    assert(got === golden("grep_correct.txt"))
  }

  test("saveTextParts writes exactly R reference-named part files (op #9)") {
    val out = Files.createTempDirectory("graft-parts").toString + "/job-out"
    val R = 3
    MapReduce.saveTextParts(TextSource.wordcountDir(spark, corpusDir, numReducers = R), out)
    val parts = Files
      .list(Paths.get(out))
      .iterator()
      .asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("part-"))
      .toList
      .sorted
    assert(parts === (0 until R).map(r => f"part-$r%05d").toList)
    // concatenated parts hold the full golden multiset; each part is sorted
    val all = parts.flatMap { p =>
      val lines = Files.readAllLines(Paths.get(out, p)).asScala.toList
      assert(lines === lines.sorted(Utf8Order.lines), s"$p not sorted")
      lines
    }
    assert(all.sorted === golden("word_count_correct.txt").sorted)
  }
}
