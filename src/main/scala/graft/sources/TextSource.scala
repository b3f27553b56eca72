package graft.sources

import graft.engine.MapReduce
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's native input format: a DIRECTORY of newline-delimited
  * UTF-8 text files (SURVEY.md §2a op #1; reference mapreduce/submit.py
  * --input), as a `Dataset` for the Dataset entry points (`MapReduce.run`,
  * `MapReduce.runKV`). `spark.read.text(dir)` reads the same lines the
  * engine's own job reader does, but splits them by Spark's file-scan
  * planning, not into the job's M ranges: `MapReduce.runJob` and
  * `runExecJob` lay the name-sorted files end to end and cut them into
  * exactly M byte ranges themselves. `input_file_name()` recovers
  * per-file identity where a job needs it.
  */
object TextSource {

  def lines(spark: SparkSession, inputDir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(inputDir)
  }

  /** Per-file line counts, sorted by file name — pins the sorted
    * directory-enumeration contract (reference tests/test_manager_02.py
    * sorts input files before task assignment).
    */
  def fileInventory(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    spark.read
      .text(inputDir)
      .select(input_file_name().as("file"), $"value")
      .groupBy($"file")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy($"file")
  }

  /** Reference word count over a text directory (wc_map.sh/wc_reduce.sh
    * semantics), via the MapReduce engine core.
    */
  def wordcountDir(spark: SparkSession, inputDir: String, numReducers: Int = 2): Dataset[String] =
    MapReduce.run(
      lines(spark, inputDir),
      mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
      reducer = (word, ones) => Iterator.single(s"$word\t${ones.size}"),
      numReducers = numReducers
    )

  /** Reference grep over a text directory (grep_map.py/grep_reduce.py
    * semantics, default query "product" per grep_map.py:14-17).
    */
  def grepDir(
      spark: SparkSession,
      inputDir: String,
      query: String = "product",
      numReducers: Int = 1
  ): Dataset[String] =
    MapReduce.run(
      lines(spark, inputDir),
      mapper = line =>
        if (line.trim.nonEmpty && line.toLowerCase.contains(query.toLowerCase))
          Iterator.single(("1", line))
        else Iterator.empty,
      reducer = (_, ls) => ls,
      numReducers = numReducers
    )
}
