package graft.streaming

import graft.GraftSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins codegen-cache reuse across stream starts: every start clones
  * the stream session, and a clone that got its own executor class
  * loader would recompile every generated class of the query.
  */
class StreamCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "stream-codegen")
  private val dir = "/root/testdata/sf0.001"

  test("a repeated memory-sink stream compiles no generated class; the caller keeps artifact isolation") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = StreamingQueries.userStats(spark, dir).collect().toSeq
    val before = compiles.getCount
    val second = StreamingQueries.userStats(spark, dir).collect().toSeq
    assert(compiles.getCount - before === 0L, "the second stream start must hit the codegen cache")
    assert(second === first)
    assert(first.nonEmpty)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "true")
  }
}
