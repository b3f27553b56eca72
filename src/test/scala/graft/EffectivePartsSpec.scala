package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of Tables.effectiveParts (the row-group parallelism
  * floor): single file, directory of part files, empty directory, and
  * a nonexistent path — the latter two must fall back to the split
  * count, never report 0 parallelism or throw.
  */
class EffectivePartsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "effective-parts-spec")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"effparts-$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("single small file: row-group floor caps the split count") {
    import spark.implicits._
    val dir = tmpDir("single")
    (1 to 1000).toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // one part file, one row group → the floor is 1 whatever the splits
    val parts = Tables.effectiveParts(df, dir, cores = 32)
    assert(parts === math.min(df.rdd.getNumPartitions, 1))
  }

  test("directory with >= cores files skips the footer pass and keeps splits") {
    import spark.implicits._
    val dir = tmpDir("many")
    (1 to 1000).toDF("v").repartition(4).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(Tables.effectiveParts(df, dir, cores = 2) === df.rdd.getNumPartitions)
  }

  test("empty directory: zero row groups falls back to the split count, not 0") {
    import spark.implicits._
    val dir = tmpDir("empty")
    val df = spark.read.schema("v INT").parquet(dir)
    val parts = Tables.effectiveParts(df, dir, cores = 32)
    assert(parts === df.rdd.getNumPartitions)
    assert(parts >= 0) // and specifically never a min(_, 0) = 0 report
  }

  test("nonexistent path: NonFatal fallback to the split count") {
    import spark.implicits._
    val df = (1 to 10).toDF("v")
    val parts = Tables.effectiveParts(df, "/nonexistent/graft-effparts", cores = 32)
    assert(parts === df.rdd.getNumPartitions)
  }
}
