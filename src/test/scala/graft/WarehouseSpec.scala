package graft

import graft.similarity.Similarity
import graft.streaming.StreamingQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session memo registry in [[Warehouse]]: the supersede rule, the
  * (session, key) identity of every entry, and the one place that owns
  * the purge-on-stop rule.
  */
class WarehouseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "warehouse-spec")
  private val sf = "/root/testdata/sf0.001"

  test("a regenerated source supersedes the kNN frame and unpersists the old one") {
    val dir = Files.createTempDirectory("graft-warehouse-spec-").toString
    val path = s"$dir/embeddings.parquet"
    spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(path)
    val a = Similarity.knnGraph(spark, dir)
    assert(Similarity.knnGraph(spark, dir) eq a, "unchanged source: the memo returns the identical frame")
    a.count()
    def cached(df: DataFrame) =
      spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    val oldRdd = cached(a).getOrElse(fail("the kNN frame is persisted"))
      .cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    assert(spark.sparkContext.getPersistentRDDs.contains(oldRdd))

    spark.read.parquet(s"$sf/embeddings.parquet").limit(5).write.mode("append").parquet(path)
    val c = Similarity.knnGraph(spark, dir)
    assert(!(c eq a), "a new fingerprint builds a new frame")
    assert(cached(a).isEmpty, "superseded frame still cached")
    assert(!spark.sparkContext.getPersistentRDDs.contains(oldRdd), "superseded blocks still persisted")
    c.unpersist()
  }

  test("memory-sink views are kept per (stream session, family), not per family") {
    val a = spark.newSession()
    val b = spark.newSession()
    StreamingQueries.userStats(a, sf).collect()
    StreamingQueries.userStats(b, sf).collect()
    val df = StreamingQueries.userStats(a, sf)
    val views = df.sparkSession.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("stream_user_stats_"))
    assert(views === 1, "an earlier run's drained view is left in the stream session")
  }

  test("sparkContext.isStopped appears only in graft/Warehouse.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root)
    val users =
      try
        files.iterator.asScala
          .filter(_.toString.endsWith(".scala"))
          .filter(f => Files.readString(f, UTF_8).contains("sparkContext.isStopped"))
          .map(f => root.relativize(f).toString)
          .toList
          .sorted
      finally files.close()
    assert(users === List("graft/Warehouse.scala"), "a session memo outside the store")
  }
}
