package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The program has three entry points: `Bench`, `Verify` and
  * `tools.ExplainDump`, which regenerates PLANS.md. A one-off probe
  * belongs in a scratch copy or in the OPTIMIZATION notes, not in
  * `src/main` as another `main`.
  */
class MainsSpec extends AnyFunSuite {

  test("src/main holds exactly the Bench, Verify and tools/ExplainDump mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root)
    val mains =
      try
        files.iterator.asScala
          .filter(_.toString.endsWith(".scala"))
          .flatMap { f =>
            val name = root.relativize(f).toString.stripPrefix("graft/").stripSuffix(".scala")
            Files.readAllLines(f, UTF_8).asScala.filter(_.contains("def main(")).map(_ => name)
          }
          .toList
          .sorted
      finally files.close()
    assert(mains === List("Bench", "Verify", "tools/ExplainDump"))
  }
}
